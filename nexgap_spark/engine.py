"""User-facing facade: every reference entry point as one engine call.

A user of the reference drives it through five CLIs; each maps onto an
`Engine` method over DataFrames, so switching is a rename, not a rewrite:

  reference entry point                          → Engine method
  ─────────────────────────────────────────────────────────────────────
  converter/trace/get_traces.py (ingest+skip)    → read_spans + ledger_filter
  convert_spans_to_chatcompletion.py             → convert
  converter/trace/filter_xml_errors.py           → validate / filter_valid
  convert_trace_to_specific_tool_call_style.py   → emit
  Gyrfalcon main.py / core/pipeline.py sampling  → sample_paths (round-based)
  (scale extensions)                             → dedup_corpus, run_query

Everything returns DataFrames; nothing collects. Side-effecting steps
(`write_jsonl`, ledgers) live in `nexgap_spark.sources`.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexgap_spark.operators import dedup
from nexgap_spark.operators.converter import convert_spans
from nexgap_spark.schemas import SPAN_SCHEMA
from nexgap_spark.session import get_spark, materialize
from nexgap_spark.sources import jsonl, ledger

VALID_STRUCT = T.StructType(
    [
        T.StructField("valid", T.BooleanType()),
        T.StructField("errors", T.ArrayType(T.StringType())),
    ]
)


class Engine:
    """One SparkSession + the full operator catalog behind simple calls."""

    def __init__(self, spark: SparkSession | None = None, **session_kwargs: Any):
        self.spark = spark or get_spark("nexgap_engine", **session_kwargs)

    # -- ingest ------------------------------------------------------------

    def read_spans(self, path: str) -> DataFrame:
        """S1/S6: JSONL span scan with the corrupt-record side channel
        already split off (bad lines are dropped here; use
        sources.jsonl.read_jsonl directly to inspect them).

        Union-typed fields (SURVEY hard-part 5, reference :1527-1532):
        `input`/`output` arrive as either one message object or a list.
        Ingest them as raw JSON text, wrap bare objects into one-element
        arrays, then parse against the message schema — a dict-shaped
        `output` must not land in the corrupt channel."""
        msg_ddl = SPAN_SCHEMA["input"].dataType.simpleString()

        def norm(col: str):
            s = F.trim(F.col(col))
            wrapped = F.when(
                s.startswith("{"), F.concat(F.lit("["), s, F.lit("]"))
            ).otherwise(s)
            return F.from_json(wrapped, msg_ddl).alias(col)

        ingest_schema = T.StructType(
            [
                f
                if f.name not in ("input", "output")
                else T.StructField(f.name, T.StringType())
                for f in SPAN_SCHEMA.fields
            ]
        )
        # DROPMALFORMED, not split_corrupt: this path only needs the good
        # rows, and the corrupt-column split requires caching the full raw
        # scan (a Spark constraint) — a cache nothing here could ever
        # unpersist, leaking one session-lifetime copy of the input per
        # call. Callers who want to INSPECT bad lines use
        # sources.jsonl.read_jsonl + split_corrupt directly.
        good = (
            self.spark.read.schema(ingest_schema)
            .option("mode", "DROPMALFORMED")
            .json(path)
        )
        return good.select(
            *[
                norm(f.name) if f.name in ("input", "output") else F.col(f.name)
                for f in SPAN_SCHEMA.fields
            ]
        )

    def ledger_filter(
        self, candidates: DataFrame, ledger_path: str, *, key: str = "trace_id"
    ) -> DataFrame:
        """S4/S5: drop rows whose key is already in the processed ledger."""
        led = ledger.read_ledger(self.spark, ledger_path, key)
        return ledger.anti_join_processed(candidates, led, key)

    # -- converter ---------------------------------------------------------

    def convert(
        self,
        spans: DataFrame,
        *,
        config_agents: list[str],
        agent_tools: dict[str, list[dict[str, Any]]] | None = None,
        generation_marker: str | tuple[str, ...] | None = None,
    ) -> DataFrame:
        """Span tree → ChatCompletion records (P2→A1→J3→P3→document
        transform); the whole reference converter as one call.

        ``generation_marker`` selects which instrumentation's GENERATION
        spans to convert — a single marker, or a tuple to take several in
        one pass (default: every marker in span_tree.GENERATION_MARKERS, so
        traces carrying the `anthropic.chat` marker aren't silently
        dropped)."""
        from nexgap_spark.operators.span_tree import GENERATION_MARKERS

        return convert_spans(
            spans,
            config_agents=config_agents,
            agent_tools=agent_tools,
            generation_marker=generation_marker or tuple(GENERATION_MARKERS),
        )

    def convert_framework(
        self,
        spans: DataFrame,
        framework: str | None = None,
        *,
        use_openai_format: bool = False,
        config_agents: list[str],
        agent_tools: dict[str, list[dict[str, Any]]] | None = None,
        framework_config: dict[str, Any] | None = None,
    ) -> tuple[DataFrame, str]:
        """Framework-dispatched convert (run_end_to_end.py:429-488): resolve
        the converter strategy for ``framework`` (registered override, else
        the wire-format default) and run it. Returns (records, validator
        mode) so the caller can feed `validate`/`filter_valid` the matching
        mode without re-resolving.

        ``framework_config``: when given, it is validated with the
        strategy's OWN schema gate (framework-config pydantic twin for a4a,
        nexau_config_schema twin for nexau) before any conversion plan is
        built — a malformed config raises here, on the driver, never as
        executor-side errors after broadcast."""
        from nexgap_spark.operators.dispatch import resolve_converter

        strat = resolve_converter(framework, use_openai_format=use_openai_format)
        if framework_config is not None:
            strat.validate(framework_config)
        records = strat.convert(
            spans, config_agents=config_agents, agent_tools=agent_tools
        )
        return records, strat.validator_mode

    # -- validation (P7 / V1-V6) -------------------------------------------

    def validate(
        self, records: DataFrame, *, messages_col: str = "messages", mode: str = "a4a"
    ) -> DataFrame:
        """Append a `validation struct<valid,errors>` column: every assistant
        message in the record must pass V1-V6."""
        from nexgap_spark.functions.validators import record_is_valid

        def _check(s):
            rows = []
            for m in s:
                # Arrow gives array cells as numpy arrays whose truthiness is
                # ambiguous; the validator core expects a plain list or None
                msgs = None if m is None else list(m)
                rows.append(
                    dict(zip(("valid", "errors"), record_is_valid(msgs, mode=mode)))
                )
            return pd.DataFrame(rows)

        _check.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
        udf = F.pandas_udf(_check, VALID_STRUCT)
        return records.withColumn("validation", udf(F.col(messages_col)))

    def filter_valid(
        self, records: DataFrame, *, messages_col: str = "messages", mode: str = "a4a"
    ) -> tuple[DataFrame, DataFrame]:
        """(valid records without the helper column, error side-output) —
        the filter_xml_errors.py contract.

        The validated frame is persisted so the Python validator (the most
        expensive stage here) runs ONCE even when both branches are
        consumed. CacheManager entries are NOT garbage-collected by Spark
        (only RDD blocks are), so the unpersist is wired explicitly: a
        ``weakref.finalize`` on each returned frame drops the cache once
        BOTH outputs have been garbage-collected. A long-lived session
        calling this per input file therefore does not accumulate one
        session-lifetime cached copy per call; ``spark.catalog.clearCache()``
        still releases eagerly."""
        import weakref

        from pyspark import StorageLevel

        checked = self.validate(records, messages_col=messages_col, mode=mode).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        valid = checked.filter(F.col("validation.valid")).drop("validation")
        errors = checked.filter(~F.col("validation.valid")).select(
            "*", F.col("validation.errors").alias("xml_errors")
        ).drop("validation")
        remaining = {"n": 2}

        def _release(_checked=checked, _remaining=remaining):
            _remaining["n"] -= 1
            if _remaining["n"] == 0:
                try:
                    _checked.unpersist(blocking=False)
                except Exception:  # noqa: BLE001 — session may already be gone
                    pass

        weakref.finalize(valid, _release)
        weakref.finalize(errors, _release)
        return valid, errors

    # -- emitters (F7/F8) ---------------------------------------------------

    def emit(
        self, records: DataFrame, target: str, *, messages_col: str = "messages"
    ) -> DataFrame:
        """Rewrite assistant tool-call blocks into the target model format
        (qwen / minimax / glm / openrouter / deepseek).

        Spark can't call a Python UDF inside a higher-order-function lambda,
        so the rewritten content array is computed by an Arrow-batched UDF
        into a sibling column first, then a pure `transform` zips it back
        into the message structs by index."""
        from nexgap_spark.functions.emitters import convert_message

        def _rw(roles, contents):
            out = []
            for rs, cs in zip(roles, contents):
                if cs is None:
                    out.append(None)
                    continue
                out.append(
                    [
                        convert_message(c, target)
                        if r == "assistant" and isinstance(c, str)
                        else c
                        for r, c in zip(rs, cs)
                    ]
                )
            return pd.Series(out)

        _rw.__annotations__ = {
            "roles": pd.Series,
            "contents": pd.Series,
            "return": pd.Series,
        }
        rw_udf = F.pandas_udf(_rw, T.ArrayType(T.StringType()))
        return (
            records.withColumn(
                "_rw",
                rw_udf(
                    F.col(f"{messages_col}.role"), F.col(f"{messages_col}.content")
                ),
            )
            .withColumn(
                messages_col,
                F.transform(
                    F.col(messages_col),
                    lambda m, i: m.withField(
                        "content", F.element_at(F.col("_rw"), i + F.lit(1))
                    ),
                ),
            )
            .drop("_rw")
        )

    # -- scale extensions ---------------------------------------------------

    def chunk(
        self,
        docs: DataFrame,
        *,
        text_col: str = "text",
        max_tokens: int = 128,
        overlap: int = 0,
    ) -> DataFrame:
        """Sliding-window chunking (curation.chunk_text): one row per
        (doc, context window), row-local, no shuffle — the pretraining/RAG
        split step that pairs with `dedup_corpus` and `pack` downstream."""
        from nexgap_spark.operators.curation import chunk_text

        return chunk_text(
            docs, text_col=text_col, max_tokens=max_tokens, overlap=overlap
        )

    def dedup_corpus(
        self,
        docs: DataFrame,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        min_jaccard: float = 0.2,
    ) -> DataFrame:
        """MinHash-LSH near-dup dedup end to end: returns the kept rows of
        ``docs`` (canonical per connected component) — the q44 pipeline as a
        reusable call."""
        renamed = docs.withColumnRenamed(id_col, "doc_id").withColumnRenamed(
            text_col, "text"
        )
        sh = dedup.shingle_table(renamed)
        near = dedup.near_dup_pairs(sh, min_jaccard=min_jaccard)
        groups = dedup.dup_groups(near).select(F.col("n").alias("doc_id"), "group_id")
        # broadcast only under the shared row cap — a crawl-style corpus can
        # put a large fraction of all docs into near-dup groups, and an
        # unconditional broadcast of that set dies at exactly the
        # high-duplication inputs dedup exists for
        groups = dedup.capped_broadcast(groups)
        keep = (
            renamed.join(groups, "doc_id", "left")
            .filter(F.col("group_id").isNull() | (F.col("group_id") == F.col("doc_id")))
            .drop("group_id")
        )
        return keep.withColumnRenamed("doc_id", id_col).withColumnRenamed(
            "text", text_col
        )

    # -- query synthesis (the Gyrfalcon main loop) ---------------------------

    def synthesize(
        self,
        tree: dict[str, Any],
        *,
        rounds: int = 2,
        batch: int = 8,
        framework: str = "deer-flow",
        difficulty_dist: dict[str, float] | None = None,
        client_factory: Any = None,
        seed: int = 42,
        language: str = "english",
    ) -> DataFrame:
        """Round-based query synthesis re-expressed from the reference's
        main loop (Gyrfalcon main.py + core/pipeline.py):

        per round — J7+W4 inverse-frequency weighted path sampling (biased
        away from already-sampled paths), prompt build, batched external LLM
        stage (X1; deterministic mock unless a real ``client_factory`` is
        injected), X2 three-difficulty parse, R4 distribution pick, A3
        histogram merge feeding the next round. Counts are frozen per round
        (the documented deviation from the reference's per-sample updates —
        the shuffle aggregation IS the merge, no file locks).

        Deterministic for a fixed seed. Returns one row per sampled path:
        (path_id, path_string, query, difficulty, round, framework).
        """
        from nexgap_spark.external.client import MockLLMClient, external_call
        from nexgap_spark.external.parse import parse_difficulty_variants
        from nexgap_spark.operators import sampling, taxonomy

        dist = difficulty_dist or {"easy": 0.2, "medium": 0.5, "hard": 0.3}
        # canonicalize + validate keys: the variant parser emits lowercase
        # easy/medium/hard, and the kept-filter compares pick output against
        # those — a caller's {'EASY': ...} would otherwise pass the sum
        # check and silently yield ZERO rows every round
        from nexgap_spark.external.parse import DIFFICULTIES

        dist = {k.strip().lower(): v for k, v in dist.items()}
        if set(dist) != set(DIFFICULTIES):
            raise ValueError(
                f"difficulty_dist keys must be {sorted(DIFFICULTIES)}, got {sorted(dist)}"
            )
        client_factory = client_factory or MockLLMClient
        paths = taxonomy.label_string(
            taxonomy.paths_df(self.spark, tree, framework=framework),
            language=language,
        )
        counts = taxonomy.empty_counts(self.spark)

        def _parse(s):
            return s.map(lambda r: parse_difficulty_variants(r, language=language))

        _parse.__annotations__ = {"s": pd.Series, "return": pd.Series}
        parse_udf = F.pandas_udf(
            _parse, "array<struct<difficulty string, content string>>"
        )

        out: DataFrame | None = None
        for rnd in range(rounds):
            weighted = sampling.inverse_frequency_weights(
                taxonomy.join_counts(paths, counts)
            )
            sampled = sampling.weighted_sample(
                weighted, n=batch, key_col="path_id", seed=seed + rnd
            )
            prompts = sampled.join(paths, "path_id").withColumn(
                "prompt",
                F.concat(
                    F.lit(
                        "Generate three query variants labelled **EASY:**, "
                        "**MEDIUM:**, **HARD:** for the topic: "
                    ),
                    F.col("path_string"),
                ),
            )
            resp = external_call(
                prompts, prompt_col="prompt", client_factory=client_factory
            )
            picked = sampling.pick_by_distribution(
                # offset so the pick draws are independent of the round's
                # weighted_sample draws (shared seed = correlated uniforms)
                resp, distribution=dist, seed=seed + rnd + sampling.SEED_PICK
            )
            kept = (
                picked.withColumn("variant", F.explode(parse_udf(F.col("response"))))
                .filter(F.col("variant.difficulty") == F.col("difficulty"))
                .select(
                    "path_id",
                    "path_string",
                    F.col("variant.content").alias("query"),
                    "difficulty",
                    F.lit(rnd).alias("round"),
                    F.lit(framework).alias("framework"),
                )
            )
            out = kept if out is None else out.unionByName(kept)
            # materialize the histogram: the next round's weights depend on
            # it, and without the checkpoint every round would replay all
            # prior rounds' sampling (same lesson as dedup.dup_groups)
            counts = materialize(
                taxonomy.record_samples(
                    counts, sampled.withColumn("framework", F.lit(framework))
                )
            )
        return out

    # -- file / web side channels (S8/S9/S11/S16, P8/A8) --------------------

    def download(self, df: DataFrame, out_dir: str, **kw: Any) -> DataFrame:
        """S11: fetch each row's URL into out_dir; returns per-item status
        records (file_system_agent.py:175-232). Inject ``fetcher=`` for
        https; data: URLs decode locally."""
        from nexgap_spark.sources.files import download_files

        return download_files(df, out_dir, **kw)

    def web_search(self, queries_df: DataFrame, transport: Any, **kw: Any) -> DataFrame:
        """S16: one Serper search per query row → exploded result records
        (web_research_agent.py:162-199). ``transport`` is the injected HTTP
        call; see external.websearch.canned_transport for offline runs."""
        from nexgap_spark.external.websearch import search_queries

        return search_queries(queries_df, transport, **kw)

    def guard_queries(self, df: DataFrame, **kw: Any) -> tuple[DataFrame, DataFrame]:
        """P8: (rows with a non-empty query, stop-tagged rejects)."""
        from nexgap_spark.operators.runstats import filter_nonempty_query

        return filter_nonempty_query(df, **kw)

    def summary(self, df: DataFrame, **kw: Any) -> DataFrame:
        """A8: one-row run summary (counts, success rate, per-status map)."""
        from nexgap_spark.operators.runstats import run_summary

        return run_summary(df, **kw)

    def fuzzify(self, df: DataFrame, **kw: Any) -> tuple[DataFrame, DataFrame]:
        """X4: apply the fuzzifier response contract to (query, response)
        columns; returns (parsed frame with applied/fuzzy_query/... fields,
        failure side-output) — the FAILURE_LOG analog
        (fuzzifier_agent.py:210-255). Produce the response column with
        ``external_call`` (or any client) first; gating is P9's job."""
        from nexgap_spark.external.agents import fuzzifier_failures, parse_fuzzifier_col

        parsed = parse_fuzzifier_col(df, **kw)
        return parsed, fuzzifier_failures(
            parsed,
            query_col=kw.get("query_col", "query"),
            response_col=kw.get("response_col", "response"),
        )

    def validate_urls(self, df: DataFrame, transport_factory: Any, **kw: Any) -> DataFrame:
        """X7: HEAD-check each row's URL with the reference retry ladder
        (url_validator_agent.py:118-197); returns (url, accessible,
        status_code, error, redirect_url, content_type, attempts)."""
        from nexgap_spark.external.urlcheck import validate_urls

        return validate_urls(df, transport_factory, **kw)

    def process_urls(self, df: DataFrame, **kw: Any) -> DataFrame:
        """X8 orchestration: extract → validate → repair → rewrite per query
        row (url_processing_agent.py:38-321); returns processed_query plus
        the url_stats counters. Inject ``client_factory`` /
        ``transport_factory`` for production IO."""
        from nexgap_spark.external.urlcheck import process_query_urls

        return process_query_urls(df, **kw)

    def maintain_urls(self, df: DataFrame, **kw: Any) -> DataFrame:
        """X7+X8 fused: validate every URL and repair the broken ones in
        ONE Arrow stage (the crawl-frontier maintenance pass); emits one
        url_change row per broken URL. Inject ``client_factory`` /
        ``transport_factory``. Input URLs are deduplicated by default
        (``dedupe=True``, matching the two-stage path this replaces) so
        duplicates never pay the repair loop twice; pass ``dedupe=False``
        for a frontier already deduped upstream."""
        from nexgap_spark.external.urlcheck import validate_and_repair_urls

        return validate_and_repair_urls(df, **kw)

    def synthesis_workflow(self, df: DataFrame, **kw: Any) -> DataFrame:
        """The COMPOSED query-synthesis workflow (router_agent.py:80-256):
        persona eval/rewrite → variant synthesis → URL processing → file
        requirement/augmentation → fuzzifier, one export-shaped row per
        generated variant. Inject ``client_factory`` /
        ``transport_factory``; stage responses arrive as columns. (The
        tree-sampling round loop is ``synthesize`` above — this is the
        per-task agent composition.)"""
        from nexgap_spark.external.workflow import run_synthesis_workflow

        return run_synthesis_workflow(df, **kw)

    # -- catalog ------------------------------------------------------------

    def run_query(self, name: str, sf_dir: str) -> DataFrame:
        """Any catalog query by name (the __spark_entry__ surface)."""
        from nexgap_spark.plans import QUERIES

        return QUERIES[name](self.spark, sf_dir)

    # -- round-13 curation/layout additions ----------------------------------

    def expectations(
        self, df: DataFrame, rules: dict[str, Any], **kw: Any
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Named data-quality gate: (passed, quarantined, metrics) in one
        pass — see curation.apply_expectations."""
        from nexgap_spark.operators.curation import apply_expectations

        return apply_expectations(df, rules, **kw)

    def leakage_safe_split(
        self, df: DataFrame, groups: DataFrame, **kw: Any
    ) -> DataFrame:
        """Train/val/test assignment keyed by near-dup GROUP id so no
        near-duplicate of a held-out row lands in train — see
        curation.leakage_safe_split (pair with dedup.dup_groups)."""
        from nexgap_spark.operators.curation import leakage_safe_split

        return leakage_safe_split(df, groups, **kw)

    def zorder_write(
        self, df: DataFrame, path: str, cols: list[str], **kw: Any
    ) -> None:
        """Write ``df`` Morton-clustered on ``cols`` for multi-column data
        skipping — see operators.zorder.zorder_write."""
        from nexgap_spark.operators.zorder import zorder_write

        zorder_write(df, path, cols, **kw)
