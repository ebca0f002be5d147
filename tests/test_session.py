"""Session settings: the local worker daemon (``docetl_spark.pydaemon``)
and scans of snapshot-known files that run no listing job."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

from docetl_spark import pydaemon
from docetl_spark.cdc import create_cdc_table, read_state, replay_events
from docetl_spark.session import _local_worker_conf
from docetl_spark.sources.testgen import gen_change_events

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("graft_zipmod.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "graft_zipmod", raising=False)
    assert importlib.import_module("graft_zipmod").VALUE == 1

    # install on a stock class and fresh records; both are restored after
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_read_stamps", {})
    pydaemon.install()
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, "rewritten")  # new bytes and size
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [archive]
    del sys.modules["graft_zipmod"]
    assert importlib.import_module("graft_zipmod").VALUE == "rewritten"

    importlib.invalidate_caches()  # recorded again at the re-read
    assert reads == [archive]


def test_local_workers_do_not_reread_pyspark_zip(spark):
    # nested, so the worker unpickles it by value
    def _worker_rereads(batches):
        """Per worker: zip importers on its path and the archive reads one
        ``importlib.invalidate_caches()`` makes — what every task's
        ``setup_spark_files`` pays."""
        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "zip_importers": [zips], "rereads": [len(reads)]})

    rows = (spark.range(0, 16, 1, 8)
            .mapInPandas(_worker_rereads, "pid long, zip_importers long, rereads long")
            .collect())
    assert len(rows) == 8
    # pyspark.zip is on the worker path (SPARK_HOME), so the check is not vacuous
    assert min(r.zip_importers for r in rows) > 0
    assert [r.rereads for r in rows] == [0] * 8


def test_local_worker_conf_only_for_local_masters():
    caller = {"spark.executorEnv.PYTHONPATH": "/libs/extra"}
    for master in ("local", "local[2]", "local[*]"):
        conf = _local_worker_conf(master, caller)
        assert conf["spark.python.daemon.module"] == "docetl_spark.pydaemon"
        assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([REPO, "/libs/extra"])
    assert _local_worker_conf("local[4]", {})["spark.executorEnv.PYTHONPATH"] == REPO
    stock = {"spark.python.daemon.module": "pyspark.daemon"}
    assert _local_worker_conf("local[4]", stock)["spark.python.daemon.module"] == "pyspark.daemon"
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"):
        assert _local_worker_conf(master, caller) == {}


DRIVER = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from docetl_spark.session import get_spark
{patch}
spark = get_spark(master="local[2]", shuffle_partitions=2)

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

got = sorted(r[0] for r in spark.range(4).select(plus_one("id")).collect())
print("UDF_RESULT", got)
spark.stop()
"""


# the session as it would be without the workers' PYTHONPATH entry
DROP_PYTHONPATH = """
from docetl_spark import session
conf = session._local_worker_conf
session._local_worker_conf = lambda master, extra: {
    k: v for k, v in conf(master, extra).items() if k != "spark.executorEnv.PYTHONPATH"}
"""


def _run_driver(tmp_path, patch=""):
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER.format(repo=REPO, patch=patch))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_DRIVER_MEM="1g")
    return subprocess.run([sys.executable, str(driver)], capture_output=True, text=True,
                          cwd=str(tmp_path), env=env, timeout=300)


def test_daemon_starts_outside_the_repo_without_pythonpath(tmp_path):
    """The daemon module is found through spark.executorEnv.PYTHONPATH,
    not through the driver's working directory or environment."""
    res = _run_driver(tmp_path)
    assert "UDF_RESULT [1, 2, 3, 4]" in res.stdout, res.stdout[-2000:] + res.stderr[-3000:]
    res = _run_driver(tmp_path, patch=DROP_PYTHONPATH)
    assert "UDF_RESULT" not in res.stdout
    assert "No module named 'docetl_spark'" in res.stderr, res.stderr[-3000:]


def test_read_state_of_many_files_runs_no_listing_job(spark, tmp_path):
    events = gen_change_events(spark, 4000, n_keys=400, batch_size=400)
    table = create_cdc_table(str(tmp_path / "t"), ["repo", "path", "commit"], num_buckets=4)
    replay_events(spark, table, events, mode="mor")
    assert sum(len(fl) for fl in table.snapshot().files.values()) >= 33

    sc = spark.sparkContext
    sc.setJobGroup("read_state_build", "read_state_build")
    try:
        read_state(spark, table)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("read_state_build") == []
