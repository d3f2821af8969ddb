"""The ``pipeline`` workload: the paper's three stages on seeded inputs,
driven through ``nexgap_spark.engine.Engine``.

The inputs come from the catalog's own generators over the committed sf0.01
``documents`` table (``data/``), so their sizes and mixes are those of the
catalog queries that use the same generators:

* synthesis tasks: ``plans.agents._wf_mock_cols`` (q105's mock stage
  responses) for every document, in a seeded order;
* agent commands: ``N_EXEC`` documents drawn by the seed, each a real
  ``/bin/sh`` subprocess that exits 1 when ``doc_id % 3 == 0`` (q107's
  rule);
* span JSONL: ``plans.document_pipeline._synth_spans`` (one two-span trace
  per document), with the generation content taken from
  ``_content_col(malformed_every=MALFORMED_EVERY)`` (q38's malformed
  tool-call XML). The seed orders the lines, writes each generation's
  ``output`` as a list or as a bare object (the union-typed field), and
  inserts ``N_CORRUPT`` truncated copies of lines at places it picks.

The planted counts every output is checked against are read off the
generated inputs, before the program runs.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time

# "A few dozen real subprocesses": q107's 200 would take about 1.5 s, half
# of a whole pass here.
N_EXEC = 32
# The benchmark's choice: enough truncated lines (5% of the 500 traces) to
# keep the corrupt-record side channel busy on every pass.
N_CORRUPT = 25
# q38's malformed tool-call rate.
MALFORMED_EVERY = 7


class PipelineInputs:
    """Seeded inputs (task frames and a span JSONL file under ``work_dir``)
    and the counts they plant."""

    def __init__(self, spark, data_dir: str, seed: int, work_dir: str):
        from pyspark.sql import functions as F

        from nexgap_spark.plans.agents import _wf_mock_cols
        from nexgap_spark.plans.document_pipeline import (
            CONFIG_AGENTS,
            _content_col,
            _synth_spans,
        )
        from nexgap_spark.session import load_table

        rng = random.Random(seed)
        par = spark.sparkContext.defaultParallelism
        self.dir = os.path.join(work_dir, "pipeline-inputs")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.agents = CONFIG_AGENTS
        docs = load_table(spark, data_dir, "documents")

        tasks = _wf_mock_cols(docs).toPandas()
        tasks = tasks.sample(frac=1.0, random_state=seed).drop(columns="doc_id")
        no_variants = int((~tasks["synth_response"].str.contains("**Easy:**", regex=False)).sum())
        self.synth_failed = no_variants
        self.synth_ok = 3 * (len(tasks) - no_variants)
        self.tasks_df = spark.createDataFrame(tasks).repartition(par)

        doc_ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
        exec_ids = rng.sample(doc_ids, N_EXEC)
        self.exec_ok = sum(1 for i in exec_ids if i % 3 != 0)
        self.exec_df = spark.createDataFrame(
            [(f"task-{i}", "fw") for i in exec_ids], "query string, framework string"
        ).repartition(par)

        content = docs.select(
            F.concat(F.lit("g"), F.col("doc_id").cast("string")).alias("span_id"),
            _content_col(malformed_every=MALFORMED_EVERY).alias("content"),
        )
        spans = (
            _synth_spans(spark, data_dir)
            .join(content, "span_id", "left")
            .withColumn(
                "output",
                F.when(
                    F.col("content").isNull(), F.col("output")
                ).otherwise(
                    F.array(F.struct(F.lit("assistant").alias("role"), F.col("content")))
                ),
            )
            .drop("content")
        )
        records = sorted((json.loads(s) for s in spans.toJSON().collect()),
                         key=lambda r: r["span_id"])
        rng.shuffle(records)
        lines, valid = [], 0
        for rec in records:
            out = rec.get("output")
            if out:
                valid += "</tool_use>" in out[0]["content"]
                if rng.random() < 0.5:
                    rec["output"] = out[0]
            lines.append(json.dumps(rec))
        self.good_spans = len(lines)
        self.valid = valid
        self.invalid = sum(1 for r in records if r.get("output")) - valid
        for k in range(N_CORRUPT):
            pos = rng.randrange(len(lines))
            lines.insert(pos, lines[pos][: rng.randint(5, 40)] + f" <corrupt {k}>")
        self.span_lines = len(lines)
        self.spans_path = os.path.join(self.dir, "spans.jsonl")
        with open(self.spans_path, "w") as f:
            f.write("\n".join(lines) + "\n")


class PipelineRunner:
    """One pass = three items. ``traced`` forces every stage on its own and
    records its time and counts in ``stages``; otherwise only the final
    actions run."""

    def __init__(self, spark, inputs: PipelineInputs):
        from nexgap_spark.engine import Engine
        from nexgap_spark.external.urlcheck import MockUrlPipelineClient, hash_transport

        self.engine = Engine(spark)
        self.inp = inputs
        self.client = MockUrlPipelineClient
        self.transport = hash_transport
        self.stages: dict[str, float] = {}
        self.out_dir = os.path.join(inputs.dir, "out")

    def items(self) -> dict:
        return {
            "synthesize": self.synthesize,
            "execute": self.execute,
            "trajectories": self.trajectories,
        }

    def _timed(self, key: str, fn):
        t0 = time.perf_counter()
        v = fn()
        self.stages[key] = time.perf_counter() - t0
        return v

    def synthesize(self, traced: bool) -> bool:
        wf = self.engine.synthesis_workflow(
            self.inp.tasks_df, client_factory=self.client, transport_factory=self.transport
        )
        rows = self._timed(
            "external.synthesize_s",
            lambda: wf.groupBy("status").count().collect(),
        )
        got = {r["status"]: r["count"] for r in rows}
        return got == {"ok": self.inp.synth_ok, "synthesis_failed": self.inp.synth_failed}

    def execute(self, traced: bool) -> bool:
        from nexgap_spark.external.execution import run_agent_queries

        # nested, so the workers receive it by value, not by module path
        def command(query: str, framework: str) -> list[str]:
            i = int(query.removeprefix("task-"))
            code = 1 if i % 3 == 0 else 0
            return ["/bin/sh", "-c", f"echo 'LangfuseTraceID: t-{i}'; exit {code}"]

        runs = run_agent_queries(self.inp.exec_df, command_builder=command, timeout_s=60)
        rows = self._timed(
            "external.execute_s",
            lambda: runs.select("query", "success", "trace_id").collect(),
        )
        ok = [r for r in rows if r["success"]]
        self.stages["external.ok_ratio"] = len(ok) / max(1, len(rows))
        return (
            len(rows) == N_EXEC
            and len(ok) == self.inp.exec_ok
            and all(r["trace_id"] == "t-" + r["query"].removeprefix("task-") for r in ok)
        )

    def trajectories(self, traced: bool) -> bool:
        """read_spans -> convert -> filter_valid -> emit('qwen') -> write_jsonl."""
        from nexgap_spark.sources.jsonl import write_jsonl

        inp, st = self.inp, self.stages
        shutil.rmtree(self.out_dir, ignore_errors=True)
        spans = self.engine.read_spans(inp.spans_path)
        records, mode = self.engine.convert_framework(spans, "nexau", config_agents=inp.agents)
        valid, errors = self.engine.filter_valid(records, mode=mode)
        emitted = self.engine.emit(valid, "qwen")
        checks = []
        if traced:
            n = self._timed("sources.read_spans_s", spans.count)
            st["sources.corrupt_ratio"] = (inp.span_lines - n) / inp.span_lines
            checks.append(n == inp.good_spans)
            n = self._timed("operators.convert_s", records.count)
            st["operators.convert_records"] = n
            nv = self._timed("functions.validate_s", valid.count)
            st["functions.valid_ratio"] = nv / max(1, n)
            checks.append(nv == inp.valid)
            checks.append(self._timed("functions.emit_s", emitted.count) == inp.valid)
        t0 = time.perf_counter()
        write_jsonl(emitted, os.path.join(self.out_dir, "valid"))
        write_jsonl(errors, os.path.join(self.out_dir, "errors"))
        st["sources.write_s"] = time.perf_counter() - t0
        valid_lines = _read_lines(os.path.join(self.out_dir, "valid"))
        error_lines = _read_lines(os.path.join(self.out_dir, "errors"))
        st["sources.write_mb"] = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(self.out_dir, "*", "part-*"))
        ) / 2**20
        checks += [
            len(valid_lines) == inp.valid,
            len(error_lines) == inp.invalid,
            all("<tool_call>" in ln and "<tool_use>" not in ln for ln in valid_lines),
        ]
        return all(checks)


def _read_lines(path: str) -> list[str]:
    out = []
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p) as f:
            out += [ln for ln in f if ln.strip()]
    return out
