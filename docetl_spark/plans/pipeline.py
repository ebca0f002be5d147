"""YAML pipeline runner — the DSLRunner analogue (SURVEY.md §3.1).

Reference lifecycle (docetl/runner.py): parse YAML -> OpContainer DAG with
injected scans -> pull-based lazy execution -> per-(step, op) checkpoints
keyed by a hash of the op-prefix config (runner.py:264-286, :546-663) ->
save. Here the DAG is a composed lazy DataFrame (Catalyst IS the pull
engine), step boundaries optionally persist to parquet keyed by the same
kind of config-prefix hash, and the sink is a file write or a CDC lake
table MERGE.

Operators are configured declaratively; per-row logic is expressed as
Spark SQL expression strings (the deterministic analogue of DocETL's
Jinja-prompt LLM calls — swap in a TransformFn stage for semantic ops).

Example
-------
    datasets:
      docs: {path: /data/documents.parquet}
    steps:
      - name: clean
        input: docs
        operations:
          - {op: filter, where: "n_chars > 64"}
          - {op: map, expr: {fp: "md5(lower(text))", n_tok: "size(split(text, '\\\\s+'))"}}
          - {op: split, split_key: text, method: token_count, num_tokens: 128}
    output: {path: /out/result.parquet, format: parquet}

Run: ``spark-submit --py-files docetl_spark.zip -m docetl_spark.plans.cli pipeline.yaml``
or ``python -m docetl_spark.plans.cli pipeline.yaml``.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docetl_spark.sources.parquet import read_parquet


def _op_scan(spark: SparkSession, datasets: dict, cfg: dict) -> DataFrame:
    ds = datasets[cfg["dataset"]]
    path = ds["path"]
    fmt = ds.get("format") or ("json" if path.endswith(".json") else "csv" if path.endswith(".csv") else "parquet")
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", str(ds.get("header", True)).lower())
        if ds.get("infer_schema", True):
            reader = reader.option("inferSchema", "true")
    if fmt == "json":
        reader = reader.option("multiLine", str(ds.get("multiline", True)).lower())
    df = read_parquet(spark, path) if fmt == "parquet" else reader.format(fmt).load(path)
    if ds.get("parsing"):
        # dataset-level parsing-tool fan-out (reference dataset.py:250-315)
        from docetl_spark.sources.parsing import apply_parsing

        df = apply_parsing(df, ds["parsing"])
    return df


def _load_callable(dotted: str):
    """Resolve ``pkg.module:attr`` (or ``pkg.module.attr``) to a callable —
    how YAML configs reference pickers/raters (the deterministic stand-ins
    for LLM comparators; an LLM-backed one is just another module path)."""
    import importlib

    mod, _, attr = dotted.replace(":", ".").rpartition(".")
    return getattr(importlib.import_module(mod), attr)


def _apply_op(df: DataFrame, cfg: dict, datasets: dict, spark: SparkSession,
              observations: dict | None = None) -> DataFrame:
    """One operator application. op names mirror the reference inventory
    (docetl/operations/__init__.py:20-41); deterministic configs only."""
    from docetl_spark import operators as ops

    op = cfg["op"]
    if op == "map":  # code_map with SQL-expression columns + drop_keys
        out = df
        for name, expr in (cfg.get("expr") or {}).items():
            out = out.withColumn(name, F.expr(expr))
        if cfg.get("drop_keys"):
            out = out.drop(*cfg["drop_keys"])
        return out
    if op == "filter":  # code_filter with a SQL predicate
        pred = F.expr(cfg["where"])
        if cfg.get("observe") and observations is not None:
            # observed per-stage selectivity (reference containers.py:
            # 543-545 records out/in per op): an Observation rides the
            # plan for free — no extra job, metrics land with the next
            # action. This is the audit trail for cascade_filter ordering.
            from pyspark.sql import Observation

            obs = Observation()
            observations[cfg.get("name", f"filter_{len(observations)}")] = obs
            df = df.observe(
                obs,
                F.count(F.lit(1)).alias("rows_in"),
                F.sum(pred.cast("long")).alias("rows_kept"),
            )
        return df.filter(pred)
    if op == "add_uuid":
        return ops.add_uuid(df, id_key=cfg.get("id_key", f"{cfg.get('name', 'op')}_id"))
    if op == "unnest":
        return ops.unnest(
            df, cfg["unnest_key"], expand_fields=cfg.get("expand_fields"),
            recursive=cfg.get("recursive", False), depth=cfg.get("depth"),
            keep_empty=cfg.get("keep_empty", False),
        )
    if op == "split":
        return ops.split(
            df, split_key=cfg["split_key"], method=cfg.get("method", "token_count"),
            num_tokens=cfg.get("num_tokens", 128), delimiter=cfg.get("delimiter", "\n\n"),
            num_splits_to_group=cfg.get("num_splits_to_group", 1), name=cfg.get("name", "split"),
            assume_distinct=cfg.get("assume_distinct", False),
        )
    if op == "gather":
        return ops.gather(
            df, content_key=cfg["content_key"], doc_id_key=cfg["doc_id_key"],
            order_key=cfg["order_key"], peripheral_chunks=cfg.get("peripheral_chunks") or {},
            doc_header_key=cfg.get("doc_header_key"),
        )
    if op == "sample":
        return ops.sample(
            df, method=cfg.get("method", "uniform"), samples=cfg.get("samples"),
            stratify_key=cfg.get("stratify_key"), seed=cfg.get("random_state", 42),
            samples_per_group=cfg.get("samples_per_group"),
        )
    if op == "topk":
        return ops.topk(
            df, k=cfg["k"], method=cfg.get("method", "score"),
            score_col=F.expr(cfg["score"]) if "score" in cfg else None,
            direction=cfg.get("direction", "desc"),
            text_col=cfg.get("text_col"), query=cfg.get("query"),
            stratify_key=cfg.get("stratify_key"), name=cfg.get("name", "topk"),
            tiebreak_cols=cfg.get("tiebreak_cols"),
            # llm_compare facade: YAML configs name a registered picker by
            # dotted path (deterministic stand-in for the LLM comparator)
            picker=_load_callable(cfg["picker"]) if "picker" in cfg else None,
            rerank_call_budget=cfg.get("rerank_call_budget", 100),
            initial_method=cfg.get("initial_method"),
        )
    if op == "reduce":  # code_reduce with SQL aggregate expressions
        keys = cfg["reduce_key"]
        keys = [keys] if isinstance(keys, str) else list(keys)
        aggs = [F.expr(e).alias(name) for name, e in cfg["aggs"].items()]
        if keys == ["_all"]:
            return df.agg(*aggs)
        return df.groupBy(*keys).agg(*aggs)
    if op == "equijoin":
        right = _op_scan(spark, datasets, {"dataset": cfg["right"]})
        return ops.equijoin(
            df, right, condition=F.expr(cfg["condition"]),
            limit_left=(cfg.get("limits") or {}).get("left"),
            limit_right=(cfg.get("limits") or {}).get("right"),
            broadcast_right=cfg.get("broadcast_right"),
        )
    if op == "resolve":
        return ops.resolve(
            df, blocking_keys=cfg.get("blocking_keys"),
            canonical_cols=cfg.get("canonical_cols"),
        )
    if op == "link_resolve":
        return ops.link_resolve(
            df, id_key=cfg["id_key"], link_key=cfg["link_key"],
            blocking_threshold=cfg.get("blocking_threshold", 0.5),
        )
    if op == "extract":
        from docetl_spark.operators.extract_ops import extract_pointer, extract_regex

        # reference extraction_method dispatch (extract.py:425-429)
        if cfg.get("extraction_method", "regex") == "line_number":
            return extract_pointer(
                df, document_keys=cfg["document_keys"],
                pointer_pattern=cfg["pointer_pattern"],
                name=cfg.get("name", "extract"),
                line_width=cfg.get("line_width", 80),
                as_text=cfg.get("format_extraction", True),
                skip_on_error=cfg.get("skip_on_error", True),
            )
        return extract_regex(
            df, document_keys=cfg["document_keys"], pattern=cfg["pattern"],
            name=cfg.get("name", "extract"),
        )
    if op == "rank":
        from docetl_spark.operators.rank_ops import rank_calibrated, rank_likert

        common = dict(
            direction=cfg.get("direction", "desc"), name=cfg.get("name", "rank"),
            k=cfg.get("k"), tiebreak_cols=cfg.get("tiebreak_cols"),
        )
        if "picker" in cfg:
            common.update(picker=_load_callable(cfg["picker"]),
                          rerank_call_budget=cfg.get("rerank_call_budget", 10))
        method = cfg.get("initial_ordering_method")
        if method == "likert":
            return rank_likert(
                df, rater=_load_callable(cfg["rater"]),
                batch_size=cfg.get("batch_size", 10),
                num_calibration_docs=cfg.get("num_calibration_docs", 10),
                **common,
            )
        if method == "calibrated_embedding":
            common.pop("direction", None)  # calibrated order is (anchor asc, sim desc)
            return rank_calibrated(
                df, embedding_col=cfg["embedding_col"], anchors=cfg["anchors"],
                sim_round=cfg.get("sim_round"), **common,
            )
        return ops.rank(df, score=F.expr(cfg["score"]), **common)
    if op == "cluster":
        return ops.cluster(
            df, cfg["embedding_col"],
            max_driver_rows=cfg.get("max_driver_rows", 10_000),
        )
    if op == "parsing":  # mid-pipeline parsing fan-out (dataset-level form
        # lives under datasets.<name>.parsing)
        from docetl_spark.sources.parsing import apply_parsing
        return apply_parsing(df, cfg["tools"])
    raise ValueError(f"unknown op type {op!r}")


def _observation_peek(obs) -> dict | None:
    """Non-blocking read of a pyspark ``Observation``: the observed
    metrics dict if the plan's first action has completed, else None.
    ``Observation.get`` blocks until that action happens — unusable for
    an audit call over observations the caller may not have run yet —
    but the JVM object exposes ``getRowOrEmpty`` (an ``Option[Row]``)."""
    jo = getattr(obs, "_jo", None)
    if jo is None:  # never attached to a DataFrame (or Connect impl)
        return None
    opt = jo.getRowOrEmpty()
    if opt is None or not opt.isDefined():
        return None
    from pyspark.serializers import CPickleSerializer

    utils = getattr(obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
    row = CPickleSerializer().loads(utils.toPyRow(opt.get()))
    return row.asDict(recursive=False)


@dataclass
class Pipeline:
    """Parsed pipeline: datasets, ordered steps, output sink."""

    config: dict
    intermediate_dir: str | None = None
    observe: bool = False  # record per-step row counts (selectivity)
    _step_outputs: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)
    # op-level Observations (cascade_filter selectivity audit): name ->
    # pyspark Observation; read .get AFTER an action has run the plan
    observations: dict = field(default_factory=dict)

    def observed_selectivity(self) -> dict:
        """{op name: {rows_in, rows_kept, selectivity}} for every observed
        op whose metrics have landed. Ops whose plan has not yet run an
        action are simply omitted — this peeks non-blockingly
        (``Observation.get`` would block the driver FOREVER on a plan
        that never materialized, e.g. a lazy pipeline result the caller
        hasn't collected yet)."""
        out = {}
        for name, obs in self.observations.items():
            m = _observation_peek(obs)
            # rows_in == 0 is a LANDED observation (the stage ran on an
            # empty frame — exactly the over-pruning signal this audit
            # exists to surface), distinct from "not yet run" (m is None)
            if m is not None and m.get("rows_in") is not None:
                rows_in = m["rows_in"]
                rows_kept = m["rows_kept"] or 0
                out[name] = {
                    "rows_in": rows_in, "rows_kept": rows_kept,
                    "selectivity": round(rows_kept / rows_in, 6) if rows_in else None,
                }
        return out

    @classmethod
    def from_yaml(cls, path: str, intermediate_dir: str | None = None) -> "Pipeline":
        import yaml

        with open(path) as f:
            cfg = yaml.safe_load(f)
        return cls(cfg, intermediate_dir=intermediate_dir or cfg.get("intermediate_dir"))

    def _prefix_hash(self, step_name: str) -> str:
        """Checkpoint key = sha256 of the config of every step up to and
        including this one (reference runner.py:264-286): any upstream
        config change invalidates downstream checkpoints."""
        prefix = []
        for step in self.config["steps"]:
            prefix.append(step)
            if step["name"] == step_name:
                break
        blob = json.dumps({"datasets": self.config.get("datasets", {}), "prefix": prefix}, sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def run(self, spark: SparkSession) -> DataFrame:
        datasets = self.config.get("datasets", {})
        last: DataFrame | None = None
        for step in self.config["steps"]:
            name = step["name"]
            ckpt = None
            if self.intermediate_dir:
                ckpt = os.path.join(self.intermediate_dir, f"{name}-{self._prefix_hash(name)}")
                # a checkpoint only counts when the write COMPLETED: a
                # crashed run leaves committed task files without _SUCCESS,
                # which must be recomputed, not silently reused
                if os.path.exists(os.path.join(ckpt, "_SUCCESS")):  # checkpoint hit
                    last = read_parquet(spark, ckpt)
                    self._step_outputs[name] = last
                    continue
            src = step.get("input")
            if src in self._step_outputs:
                df = self._step_outputs[src]
            elif src in datasets:
                df = _op_scan(spark, datasets, {"dataset": src})
            elif last is not None and src is None:
                df = last
            else:
                raise ValueError(f"step {name!r}: unknown input {src!r}")
            from docetl_spark.plans.macros import expand_macros

            for op_cfg in expand_macros(step.get("operations", [])):
                df = _apply_op(df, op_cfg, datasets, spark, observations=self.observations)
            if ckpt:
                df.write.mode("overwrite").parquet(ckpt)
                # the frame's own schema: the re-read runs no inference job
                df = read_parquet(spark, ckpt, schema=df.schema)
            if self.observe:
                # observed selectivity per step (the reference records
                # out/in per op at containers.py:543-545); one count per
                # step boundary, reading the checkpoint when present
                self.metrics[name] = {"rows_out": df.count()}
            self._step_outputs[name] = df
            last = df
        assert last is not None, "pipeline has no steps"
        return last

    def save(self, spark: SparkSession) -> DataFrame:
        out = self.run(spark)
        sink = self.config.get("output") or {}
        if sink.get("path"):
            fmt = sink.get("format", "parquet")
            writer = out.write.mode(sink.get("mode", "overwrite"))
            if fmt == "csv":
                writer = writer.option("header", "true")
            writer.format(fmt).save(sink["path"])
        return out


def run_pipeline(spark: SparkSession, yaml_path: str, intermediate_dir: str | None = None) -> DataFrame:
    return Pipeline.from_yaml(yaml_path, intermediate_dir=intermediate_dir).save(spark)
