"""End-to-end corpus pipeline — JSONL dump in, training set + chunks +
attrition report out, composed entirely from the engine's registered
operators:

    JSONL → columnarize (corrupt-line quarantine)
          → hygiene counts (PII spans)
          → gates: quality ∧ language ∧ ¬exact-dup ∧ ¬near-dup
          → (opt-in) decontamination: benchmark docs + exact-13-gram +
            paraphrase-shingle contaminated survivors drop
          → keep-set parquet
          → duplicated-SPAN removal over the keep set (keep-one
            substring dedup — gates drop whole docs, this cleans the
            survivors' residual boilerplate passages; Lee et al. 2022)
          → sliding-window chunks for tokenization

Every stage is one of the oracle-checked operators (`jsonl_to_parquet`,
`q_pii_scrub`, `q_training_filter`, `q_dedup_span_removal`,
`q_doc_chunks`); this module only
sequences them through staged directories and aggregates the accounting.
Staged parquet between phases is deliberate at 100 TB: each stage's
output is a durable, resumable checkpoint (re-running the chunker does
not re-run dedup), the write is the lineage barrier that keeps any
stage's failure from cascading, and downstream stages get parquet scans
with pushdown instead of a 40-stage mega-plan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.llmdata.dedup import (
    q_dedup_components,
    q_dedup_span_removal,
)
from graphdb_neo4j_spark.llmdata.filterset import q_training_filter
from graphdb_neo4j_spark.llmdata.genstore import (
    check_generation_id,
    read_meta,
    write_json_atomic,
)
from graphdb_neo4j_spark.llmdata.scrub import q_pii_scrub
from graphdb_neo4j_spark.llmdata.textstats import q_doc_chunks, q_token_stats
from graphdb_neo4j_spark.sources.jsonl import jsonl_to_parquet


@dataclass(frozen=True)
class PipelineReport:
    ingested_rows: int
    corrupt_lines: int
    kept_docs: int
    # quality / lang / exact_dup / near_dup / span_emptied /
    # contaminated (opt-in decontamination gate, r12)
    dropped_by_reason: dict[str, int]
    docs_with_pii: int
    chunks: int
    kept_tokens: int
    span_removed_tokens: int  # duplicated-passage tokens cut from kept docs

    @property
    def dropped_docs(self) -> int:
        return sum(self.dropped_by_reason.values())


def run_corpus_pipeline(
    spark: SparkSession,
    jsonl_path: str,
    out_base: str,
    decontaminate_bench_max_id: int | None = None,
    decontaminate_embeddings_dir: str | None = None,
    resume: bool = False,
) -> PipelineReport:
    """Run the full corpus pipeline; artifacts land under ``out_base``:

    - ``{out_base}/raw/documents.parquet``   — columnarized input
    - ``{out_base}/_pipeline_meta.json``     — ingest counts sidecar
    - ``{out_base}/components.parquet``      — near-dup component labels
    - ``{out_base}/verdicts.parquet``        — per-doc gate verdicts
    - ``{out_base}/kept/documents.parquet``  — gate survivors (pre-clean)
    - ``{out_base}/span_removal.parquet``    — per-doc span-cut accounting
    - ``{out_base}/train/documents.parquet`` — the cleaned training set
    - ``{out_base}/chunks.parquet``          — sliding-window chunks

    ``resume=True`` (r12) makes the staged-checkpoint claim literal: a
    completed PREFIX of stages is skipped — each stage whose artifact
    carries Spark's ``_SUCCESS`` marker (and, for the ingest stage, the
    meta sidecar) is read instead of recomputed, and the first missing
    or incomplete stage switches the rest of the run to recompute (a
    recomputed stage invalidates every later artifact, so skipping is
    prefix-only). Every report number derives from the staged artifacts
    either way, so a resumed run returns the identical report a crashed
    run would have. Resume assumes the same ``jsonl_path`` and
    parameters as the crashed run — the stages are deterministic in
    them. A half-written stage is safe: Spark only stamps ``_SUCCESS``
    after its job commit, so a crash mid-write reads as incomplete and
    recomputes (mode="overwrite" clears the residue).

    Returns the attrition accounting (every ingested doc is either kept
    or attributed to exactly one drop reason — checked by the caller's
    tests, not assumed). Gates drop whole docs; the span-removal stage
    then cuts duplicated ≥width-token passages from the SURVIVORS
    (keep-one: the first occurrence in the kept corpus is canonical), so
    chunks and token counts reflect the cleaned text. A doc emptied by
    the cut (its entire text was someone else's passage) is dropped with
    reason ``span_emptied``.

    ``decontaminate_bench_max_id`` (r12, opt-in): when set, a
    DECONTAMINATION gate runs after the training filter — gate
    survivors that are benchmark docs themselves (doc_id below the
    bound), exact 13-gram contaminated, or paraphrase-contaminated
    (``q_contamination_neardup``) drop with reason ``contaminated``
    before span removal and the train write (the union-remediation
    semantics of ``q_decontaminated_full``, applied drop-not-report).
    Default (None) keeps the historical behavior: no benchmark list, no
    contamination gate.

    ``decontaminate_embeddings_dir`` (r13, opt-in, VERDICT r12 #4): a
    directory holding ``embeddings.parquet`` (vec_id = doc_id, the
    corpus's embedding sidecar contract). When set alongside the bench
    bound, the gate ALSO drops the SEMANTIC channel
    (``q_contamination_semantic``): docs whose embedding sits within
    the cosine bar of a benchmark embedding — the full-rewording case
    both lexical channels miss. Docs without an embedding row pass the
    semantic check. Ignored without ``decontaminate_bench_max_id``
    (there is no benchmark to compare against).
    """
    import json
    import os

    raw_dir = f"{out_base}/raw"
    kept_dir = f"{out_base}/kept"
    train_dir = f"{out_base}/train"
    meta_path = f"{out_base}/_pipeline_meta.json"

    def _done(path: str) -> bool:
        # Spark stamps _SUCCESS only after the job commit, so its
        # presence == the stage's write completed
        return os.path.exists(os.path.join(path, "_SUCCESS"))

    # skipping is PREFIX-only: the first recomputed stage flips this off
    # for every later stage (their artifacts may be stale derivatives)
    prefix = bool(resume)

    # Parameter guard (r13, ADVICE r12): the staged artifacts are
    # deterministic in (jsonl_path, decontaminate_bench_max_id), so a
    # resume is only valid when BOTH match the run that built the tree —
    # resuming over a tree built WITHOUT the decontamination gate while
    # passing a bench id would prefix-skip the kept stage and the gate
    # would silently never run (contaminated docs reach train with no
    # error and no 'contaminated' reason). The params are stamped into
    # the meta sidecar at ingest; a stamped mismatch RAISES (the caller
    # decides: resume=False recomputes over the same tree). A legacy
    # sidecar without the stamp can't be validated — fall back to full
    # recompute, which rewrites it stamped.
    run_params = {
        "jsonl_path": jsonl_path,
        "decontaminate_bench_max_id": decontaminate_bench_max_id,
        "decontaminate_embeddings_dir": decontaminate_embeddings_dir,
    }
    if prefix and os.path.exists(meta_path):
        with open(meta_path) as f:
            _stamped = json.load(f).get("params")
        if _stamped is None:
            prefix = False  # pre-r13 tree: unverifiable, recompute
        elif _stamped != run_params:
            raise ValueError(
                f"resume=True with parameters different from the run that "
                f"built {out_base}: stamped {_stamped} vs this call "
                f"{run_params} — pass resume=False to recompute (the "
                f"staged artifacts are derivatives of the stamped values)"
            )

    # stage: ingest (counts live in the sidecar — corrupt lines never
    # land in the parquet, so they are not re-derivable from it)
    if prefix and _done(f"{raw_dir}/documents.parquet") and os.path.exists(meta_path):
        with open(meta_path) as f:
            _meta = json.load(f)
        ingested, corrupt = _meta["ingested_rows"], _meta["corrupt_lines"]
    else:
        prefix = False
        ingested, corrupt = jsonl_to_parquet(
            spark, jsonl_path, f"{raw_dir}/documents.parquet"
        )
        write_json_atomic(
            meta_path,
            {
                "ingested_rows": ingested,
                "corrupt_lines": corrupt,
                "params": run_params,
            },
        )

    # stage: components — materialize-then-consume: the pair-graph stage
    # (shingle join + iterative label propagation) runs ONCE and lands as
    # a durable artifact; the filter — and any later consumer — reads the
    # parquet instead of recomputing the most expensive stage inline
    comp_path = f"{out_base}/components.parquet"
    if not (prefix and _done(comp_path)):
        prefix = False
        q_dedup_components(spark, raw_dir).write.mode("overwrite").parquet(
            comp_path
        )
    components = spark.read.parquet(comp_path)

    # stage: verdicts — staged (r12) both for resume and as the per-doc
    # gate audit trail
    verdicts_path = f"{out_base}/verdicts.parquet"
    if not (prefix and _done(verdicts_path)):
        prefix = False
        q_training_filter(spark, raw_dir, components=components).write.mode(
            "overwrite"
        ).parquet(verdicts_path)
    verdicts = spark.read.parquet(verdicts_path)

    reasons = {
        r["drop_reason"]: r["n"]
        for r in verdicts.groupBy("drop_reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    kept = reasons.pop("keep", 0)

    pii = q_pii_scrub(spark, raw_dir)
    docs_with_pii = pii.filter(
        (F.col("n_emails") + F.col("n_urls") + F.col("n_phones")) > 0
    ).count()

    docs = spark.read.parquet(f"{raw_dir}/documents.parquet")

    # stage: kept (with the optional decontamination gate)
    if not (prefix and _done(f"{kept_dir}/documents.parquet")):
        prefix = False
        keep_ids = verdicts.filter(F.col("keep")).select("doc_id")
        if decontaminate_bench_max_id is not None:
            from graphdb_neo4j_spark.llmdata.scrub import (
                q_contamination,
                q_contamination_neardup,
            )

            exact = q_contamination(
                spark, raw_dir, bench_max_id=decontaminate_bench_max_id
            ).select("doc_id")
            fuzzy = (
                q_contamination_neardup(
                    spark, raw_dir, bench_max_id=decontaminate_bench_max_id
                )
                .select(F.col("corpus_id").alias("doc_id"))
                .distinct()
            )
            # the benchmark docs THEMSELVES are the worst contamination —
            # they must never reach the train set either
            bench_ids = docs.filter(
                F.col("doc_id") < decontaminate_bench_max_id
            ).select("doc_id")
            flagged = exact.unionByName(fuzzy).unionByName(bench_ids)
            if decontaminate_embeddings_dir is not None:
                from graphdb_neo4j_spark.llmdata.scrub import (
                    q_contamination_semantic,
                )

                semantic = q_contamination_semantic(
                    spark,
                    decontaminate_embeddings_dir,
                    bench_max_id=decontaminate_bench_max_id,
                ).select(F.col("corpus_id").alias("doc_id"))
                flagged = flagged.unionByName(semantic)
            keep_ids = keep_ids.join(
                F.broadcast(flagged.distinct()),
                "doc_id",
                "left_anti",
            )
        docs.join(keep_ids, "doc_id", "left_semi").write.mode(
            "overwrite"
        ).parquet(f"{kept_dir}/documents.parquet")
    # contamination accounting derives from the ARTIFACT (kept-count vs
    # verdict-keeps) so the fresh and resumed paths attribute identically
    n_kept_artifact = spark.read.parquet(f"{kept_dir}/documents.parquet").count()
    n_contaminated = kept - n_kept_artifact
    if n_contaminated:
        reasons["contaminated"] = n_contaminated
        kept = n_kept_artifact

    # stage: span removal over the KEPT corpus (the gram-df pipeline runs
    # once; the accounting agg and the train write both read the
    # materialization). hashed=True is the at-scale form — the gram
    # shuffle carries 8-byte xxhash64 keys, not ~width-token text (pytest
    # pins the two forms identical; the text-keyed twin exists for the
    # DuckDB oracle mirror)
    span_path = f"{out_base}/span_removal.parquet"
    if not (prefix and _done(span_path)):
        prefix = False
        q_dedup_span_removal(spark, kept_dir, hashed=True).write.mode(
            "overwrite"
        ).parquet(span_path)
    cleaned = spark.read.parquet(span_path)
    span_removed_tokens = int(
        cleaned.agg(F.sum("n_removed")).collect()[0][0] or 0
    )
    n_emptied = cleaned.filter(F.col("n_kept") == 0).count()
    if n_emptied:
        reasons["span_emptied"] = n_emptied
        kept -= n_emptied

    # stage: train
    if not (prefix and _done(f"{train_dir}/documents.parquet")):
        prefix = False
        kept_docs = spark.read.parquet(f"{kept_dir}/documents.parquet")
        (
            kept_docs.join(
                cleaned.filter(F.col("n_kept") > 0).select(
                    "doc_id", "clean_text"
                ),
                "doc_id",
            )
            .select(
                "doc_id",
                F.col("clean_text").alias("text"),
                "lang",
                "source",
                F.length("clean_text").cast("long").alias("n_chars"),
            )
            .write.mode("overwrite")
            .parquet(f"{train_dir}/documents.parquet")
        )

    # stage: chunks
    chunks_path = f"{out_base}/chunks.parquet"
    if not (prefix and _done(chunks_path)):
        prefix = False
        q_doc_chunks(spark, train_dir).write.mode("overwrite").parquet(
            chunks_path
        )
    n_chunks = spark.read.parquet(chunks_path).count()

    kept_tokens = (
        q_token_stats(spark, train_dir).agg(F.sum("n_tokens")).collect()[0][0]
        or 0
    )

    return PipelineReport(
        ingested_rows=ingested,
        corrupt_lines=corrupt,
        kept_docs=kept,
        dropped_by_reason=reasons,
        docs_with_pii=docs_with_pii,
        chunks=n_chunks,
        kept_tokens=int(kept_tokens),
        span_removed_tokens=span_removed_tokens,
    )


# --- continuous-ingest curation (batch-vs-history) ---------------------------


@dataclass(frozen=True)
class CurationReport:
    batch_docs: int
    kept_docs: int
    # near_dup_history / low_quality / contaminated (opt-in, r13) /
    # memorized (opt-in, r12) / span_emptied
    dropped_by_reason: dict[str, int]
    drift_kl: float
    drift_new_token_rate: float
    split_counts: dict[str, int]  # train / eval over the kept docs
    span_removed_tokens: int  # history-owned passage tokens cut from kept docs
    # leakage audit (r13, VERDICT r12 #6): near-dup pairs of CURATED docs
    # whose endpoints straddle the FINAL train/eval split, at the
    # caller's audit threshold. None = audit not requested. The split is
    # leakage-free only while upstream dedup is at least as strict as
    # the audit bar — both are parameters, so the safety property is
    # measured here, not assumed.
    leakage_pairs: int | None = None
    # docs whose final split differs from the plain LCG split because
    # repair_leakage moved their near-dup component to eval
    leakage_moved: int = 0
    # gram-novelty profile of the kept batch vs the history gram store,
    # measured BEFORE span removal / the batch's own generation lands
    # (r11): mean novelty_rate over kept docs with >= 1 gram, and how
    # many sit at/below the memorization threshold — the signal that a
    # "new" batch is actually history paraphrase mosaics that per-doc
    # near-dup and verbatim span removal both under-report
    novelty_mean: float | None = None
    memorized_docs: int = 0  # kept docs with novelty_rate <= threshold

    @property
    def dropped_docs(self) -> int:
        return sum(self.dropped_by_reason.values())


def run_curation_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_base: str,
    keep_frac: float = 0.6,
    max_drift_kl: float = 10.0,
    batch_id: str = "batch-0",
    memorized_gate_max: float | None = None,
    leakage_audit_threshold: float | None = None,
    repair_leakage: bool = False,
    decontaminate_bench_max_id: int | None = None,
    decontaminate_embeddings_dir: str | None = None,
) -> CurationReport:
    """The CONTINUOUS-ingest curation stack — what runs on every new batch
    once the corpus already exists (``run_corpus_pipeline`` is the cold-
    start backfill). History = even doc_ids, batch = odd (the repo's
    incremental split contract). Stages, each a registered operator:

    1. drift gate      — ``q_corpus_drift``: reject the batch outright if
       KL(batch‖history) exceeds ``max_drift_kl`` (a poisoned or
       mis-routed source never reaches dedup cost).
    2. incremental dedup — ``q_dedup_incremental``: batch docs near-
       duplicating HISTORY drop first (precedence: a duplicate is a
       duplicate regardless of its quality score).
    3. quality gate    — ``q_quality_gate``: survivors keep only the top
       ``keep_frac`` by classifier score (budgeted, corpus-relative).
    3b. decontamination (r13, opt-in) — the per-batch form of the corpus
       pipeline's gate: with ``decontaminate_bench_max_id`` set, kept
       batch docs that are benchmark docs themselves, exact-13-gram
       contaminated (``q_contamination``), or paraphrase-contaminated
       (``q_contamination_neardup``) drop with reason ``contaminated``
       BEFORE the novelty profile and span removal see them; with
       ``decontaminate_embeddings_dir`` also set, the SEMANTIC channel
       (``q_contamination_semantic``, embedding sidecar keyed vec_id =
       doc_id) joins the union. Precedence sits after dedup/quality
       (attribution only — a contaminated doc never trains either way)
       and the benchmark-vs-history overlap is natural: a batch doc
       verbatim-copying a HISTORY benchmark doc already dropped at
       stage 2; this gate catches the partial/paraphrase/semantic
       pulls dedup's 0.8 bar admits. Accounting stays closed.
    4. novelty profile — ``gram_novelty_with_store``: mean gram-novelty
       of the kept batch vs the history store + count of docs at/below
       the memorization threshold, measured BEFORE the batch's own
       generation lands (paraphrase-mosaic batches under-report in both
       the near-dup and verbatim-span channels; this is the catch-all
       dial). Report-only by DEFAULT; pass ``memorized_gate_max`` to arm
       it (r12, VERDICT r11 #5): kept docs whose novelty_rate is at or
       below the threshold then drop with reason ``memorized`` BEFORE
       span removal — the paraphrase-mosaic channel neither near-dup
       (per-doc similarity) nor span removal (verbatim runs only)
       catches. Docs too short to have a single width-gram have no
       novelty row and pass through (nothing to memorize at gram
       granularity). Accounting stays closed: ``memorized`` is its own
       drop-reason row.
    4b. span removal   — ``clean_batch_with_gram_store``: duplicated
       ≥width-token passages that HISTORY already owns are cut from the
       kept batch (history holds every canonical copy; within-batch
       keep-one applies to history-absent grams). Probes the persisted
       gram store — here built from the parity-split history as its
       cold-start ``history`` generation (the self-contained demo form;
       a live deployment builds it once and only appends) — and a doc
       emptied by the cut drops with reason ``span_emptied``.
    5. holdout split   — ``q_holdout_split``: kept docs get train/eval
       membership (pure doc_id function). The DOC-level split is
       leakage-free by construction, but near-dup leakage across it is
       only absent while upstream dedup is at least as strict as the
       caller's similarity bar — both are parameters, so
       ``leakage_audit_threshold`` (r13, VERDICT r12 #6, opt-in)
       MEASURES it: the report's ``leakage_pairs`` counts curated
       near-dup pairs (at that threshold) whose endpoints straddle the
       FINAL split, computed from the written artifact. With
       ``repair_leakage=True`` the split is REPAIRED before the write —
       any curated near-dup component containing an eval doc moves
       entirely to eval (the ``q_holdout_split_repaired``
       component-level fixpoint policy, applied to the curated batch),
       ``leakage_moved`` counts the moved docs, and the audit then
       reads zero by construction (pytest-pinned).
    6. store appends   — history + kept batch signatures land in
       ``{out_base}/minhash_store``, and the CLEANED kept batch's grams
       fold into ``{out_base}/gram_store`` as the ``batch_id``
       generation (replay-guarded by the meta sidecar), so the NEXT
       batch probes both stores without touching this one's text.

    ``batch_id`` stamps this invocation's generation in the gram store:
    the store's ``history`` generation is cold-started only when the
    store is ABSENT, so successive calls with distinct batch ids
    genuinely accumulate generations (and a replay of the same id
    raises via the ledger — it is not masked by a rebuild).

    Every batch doc is kept or attributed to exactly ONE drop reason —
    closed accounting, pytest-pinned.
    """
    # Reserved generation name (r13, ADVICE r12): the cold-start build
    # stamps the stores' first generation "history", so a batch_id of
    # "history" collides with it in the ledger — _already_folded would
    # see it immediately after the cold-start write and silently skip
    # the batch's append (or spuriously raise "already folded" on a
    # pre-existing store). Reject it up front.
    if batch_id == "history":
        raise ValueError(
            "batch_id 'history' is reserved for the stores' cold-start "
            "generation — pick a distinct batch id"
        )
    # an id the stores would reject must fail before any stage runs, not
    # between the two store appends (one ledger folded, the other not)
    check_generation_id(batch_id)

    from graphdb_neo4j_spark.llmdata.classifier import q_quality_gate
    from graphdb_neo4j_spark.llmdata.dedup import (
        GRAM_STORE_META,
        MINHASH_STORE_META,
        append_gram_store,
        clean_batch_with_gram_store,
        q_dedup_incremental,
        split_history_batch,
        write_gram_store,
        write_minhash_store,
    )
    from graphdb_neo4j_spark.llmdata.filterset import q_holdout_split
    from graphdb_neo4j_spark.llmdata.textstats import q_corpus_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist, batch = split_history_batch(docs)

    drift = q_corpus_drift(spark, sf_dir)
    drift.write.mode("overwrite").parquet(f"{out_base}/drift_report.parquet")
    overall = drift.filter(F.col("lang") == "__overall__").collect()[0]
    kl = float(overall["unigram_kl"])
    new_rate = float(overall["new_token_rate"])
    if kl > max_drift_kl:
        raise ValueError(
            f"batch rejected: unigram KL {kl} exceeds gate {max_drift_kl}"
        )

    dup_new_ids = (
        q_dedup_incremental(spark, sf_dir)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    gate = q_quality_gate(spark, sf_dir, keep_frac=keep_frac).select(
        "doc_id", "kept"
    )

    verdicts = (
        batch.select("doc_id")
        .join(dup_new_ids.withColumn("is_dup", F.lit(True)), "doc_id", "left")
        .join(gate, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.coalesce(F.col("is_dup"), F.lit(False)), "near_dup_history")
            .when(~F.coalesce(F.col("kept"), F.lit(False)), "low_quality")
            .otherwise("keep")
            .alias("verdict"),
        )
    )
    reasons = {
        r["verdict"]: r["n"]
        for r in verdicts.groupBy("verdict").agg(F.count("*").alias("n")).collect()
    }
    kept = reasons.pop("keep", 0)

    keep_ids = verdicts.filter(F.col("verdict") == "keep").select("doc_id")
    kept_batch = docs.join(keep_ids, "doc_id", "left_semi")

    # stage 3b (r13, opt-in): per-batch decontamination — the union of
    # the benchmark ids themselves and every contamination channel's
    # flagged ids, broadcast into one LEFT ANTI over the kept batch
    # (same shape as the corpus pipeline's gate)
    if decontaminate_bench_max_id is not None:
        from graphdb_neo4j_spark.llmdata.scrub import (
            q_contamination,
            q_contamination_neardup,
        )

        flagged = (
            q_contamination(spark, sf_dir, bench_max_id=decontaminate_bench_max_id)
            .select("doc_id")
            .unionByName(
                q_contamination_neardup(
                    spark, sf_dir, bench_max_id=decontaminate_bench_max_id
                ).select(F.col("corpus_id").alias("doc_id"))
            )
            .unionByName(
                docs.filter(
                    F.col("doc_id") < decontaminate_bench_max_id
                ).select("doc_id")
            )
        )
        if decontaminate_embeddings_dir is not None:
            from graphdb_neo4j_spark.llmdata.scrub import (
                q_contamination_semantic,
            )

            flagged = flagged.unionByName(
                q_contamination_semantic(
                    spark,
                    decontaminate_embeddings_dir,
                    bench_max_id=decontaminate_bench_max_id,
                ).select(F.col("corpus_id").alias("doc_id"))
            )
        n_before = kept_batch.count()
        kept_batch = kept_batch.join(
            F.broadcast(flagged.distinct()), "doc_id", "left_anti"
        )
        n_contaminated = n_before - kept_batch.count()
        if n_contaminated:
            reasons["contaminated"] = n_contaminated
            kept -= n_contaminated

    # span removal vs the history gram store (staged: the accounting agg
    # and the curated write both read the materialization). Cold-start
    # store build from history text happens ONCE per deployment — only
    # when the store is absent — so repeated per-batch invocations
    # accumulate generations instead of rebuilding; the per-batch cost
    # is the probe + the appended generation below.
    gram_store = f"{out_base}/gram_store"
    if read_meta(gram_store, GRAM_STORE_META) is None:
        write_gram_store(hist, gram_store, generation="history")
    # novelty profile of the kept batch vs the store AS-OF history —
    # before the batch's own generation lands (which would read as
    # memorization of itself) and before span removal mutates the text.
    # A 2-scalar aggregate over the per-doc novelty table (bounded).
    from graphdb_neo4j_spark.llmdata.dedup import gram_novelty_with_store

    MEMORIZED_NOVELTY_MAX = 0.2
    nov = gram_novelty_with_store(spark, gram_store, kept_batch)
    nov_row = nov.agg(
        F.avg("novelty_rate").alias("m"),
        F.sum(
            (F.col("novelty_rate") <= MEMORIZED_NOVELTY_MAX).cast("long")
        ).alias("k"),
    ).collect()[0]
    novelty_mean = (
        round(float(nov_row["m"]), 6) if nov_row["m"] is not None else None
    )
    memorized_docs = int(nov_row["k"] or 0)
    if memorized_gate_max is not None:
        # Armed gate (r12): the profile above stays measured on the FULL
        # kept batch (so the telemetry is comparable whether or not the
        # gate is on); the gate then drops at-or-below-threshold docs
        # with their own reason before span removal sees them.
        memorized_ids = nov.filter(
            F.col("novelty_rate") <= memorized_gate_max
        ).select("doc_id")
        n_memorized = memorized_ids.count()
        if n_memorized:
            reasons["memorized"] = n_memorized
            kept -= n_memorized
            kept_batch = kept_batch.join(memorized_ids, "doc_id", "left_anti")
    clean_batch_with_gram_store(spark, gram_store, kept_batch).write.mode(
        "overwrite"
    ).parquet(f"{out_base}/span_removal.parquet")
    cleaned = spark.read.parquet(f"{out_base}/span_removal.parquet")
    span_removed_tokens = int(
        cleaned.agg(F.sum("n_removed")).collect()[0][0] or 0
    )
    n_emptied = cleaned.filter(F.col("n_kept") == 0).count()
    if n_emptied:
        reasons["span_emptied"] = n_emptied
        kept -= n_emptied

    curated = kept_batch.join(
        cleaned.filter(F.col("n_kept") > 0).select("doc_id", "clean_text"),
        "doc_id",
    ).select(
        "doc_id",
        F.col("clean_text").alias("text"),
        "lang",
        "source",
        F.length("clean_text").cast("long").alias("n_chars"),
    )
    split = q_holdout_split(spark, sf_dir).select("doc_id", "split")
    leakage_pairs: int | None = None
    leakage_moved = 0
    curated_split = curated.join(split, "doc_id")
    if leakage_audit_threshold is not None:
        from graphdb_neo4j_spark.llmdata.dedup import (
            connected_components,
            dedup_jaccard_pairs,
        )

        # pair graph over the CURATED text (what actually ships to
        # train/eval) at the caller's bar — bucketed/rep-compressed,
        # never all-pairs; staged so the repair and the audit read one
        # materialization instead of re-running the shingle join
        dedup_jaccard_pairs(
            curated.select("doc_id", "text"), leakage_audit_threshold
        ).select("a", "b").write.mode("overwrite").parquet(
            f"{out_base}/leakage_pairs.parquet"
        )
        pairs = spark.read.parquet(f"{out_base}/leakage_pairs.parquet")
        if repair_leakage:
            # q_holdout_split_repaired's component-level any-eval
            # fixpoint, applied to the curated batch: pair-level moves
            # would leak transitively; whole components close the chain
            comp = connected_components(pairs).withColumnRenamed(
                "node", "doc_id"
            )
            labeled = curated_split.join(comp, "doc_id", "left")
            comp_eval = (
                labeled.filter(F.col("component").isNotNull())
                .groupBy("component")
                .agg(
                    F.max((F.col("split") == "eval").cast("int")).alias(
                        "any_eval"
                    )
                )
            )
            curated_split = (
                labeled.join(comp_eval, "component", "left")
                .withColumn(
                    "split",
                    F.when(F.col("any_eval") == 1, F.lit("eval")).otherwise(
                        F.col("split")
                    ),
                )
                .drop("component", "any_eval")
            )
    curated_split.write.mode("overwrite").parquet(
        f"{out_base}/curated/documents.parquet"
    )
    final_curated = spark.read.parquet(f"{out_base}/curated/documents.parquet")
    split_counts = {
        r["split"]: r["n"]
        for r in final_curated.groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if leakage_audit_threshold is not None:
        # both numbers derive from the WRITTEN artifact (the split the
        # consumer will actually read), same discipline as the other
        # report fields
        final_split = final_curated.select("doc_id", "split")
        pairs = spark.read.parquet(f"{out_base}/leakage_pairs.parquet")
        leakage_pairs = (
            pairs.join(
                final_split.select(
                    F.col("doc_id").alias("a"), F.col("split").alias("split_a")
                ),
                "a",
            )
            .join(
                final_split.select(
                    F.col("doc_id").alias("b"), F.col("split").alias("split_b")
                ),
                "b",
            )
            .filter(F.col("split_a") != F.col("split_b"))
            .count()
        )
        if repair_leakage:
            leakage_moved = (
                final_split.join(
                    split.withColumnRenamed("split", "lcg_split"), "doc_id"
                )
                .filter(F.col("split") != F.col("lcg_split"))
                .count()
            )

    # minhash store: same cold-start-once / append-per-batch contract as
    # the gram store below (r11 — both persisted stores now share the
    # commit-log protocol and replay ledger)
    store = f"{out_base}/minhash_store"
    if read_meta(store, MINHASH_STORE_META) is None:
        write_minhash_store(hist, store, generation="history")
    # The two per-store appends cannot commit atomically together (each
    # store has its own commit log), so a crash between them leaves
    # batch_id folded into one ledger but not the other — and a blind
    # retry would die at the already-folded store's replay guard with the
    # lagging store permanently uncompletable (ADVICE r11). The pipeline
    # therefore makes each append idempotent AT ITS OWN LEDGER: skip a
    # store whose generations already contain batch_id (that store's
    # append committed on the previous attempt; the store-level replay
    # guard still protects non-pipeline callers).
    def _already_folded(meta: dict) -> bool:
        return batch_id in meta["generations"]

    minhash_folded = _already_folded(read_meta(store, MINHASH_STORE_META))
    gram_folded = _already_folded(read_meta(gram_store, GRAM_STORE_META))
    if minhash_folded and gram_folded:
        # full replay of a completed batch: still an error (the ledger
        # contract — a double-curated batch would be silently
        # double-counted downstream), same as the store-level guard
        raise ValueError(
            f"batch '{batch_id}' is already folded into both stores — "
            f"use a new batch_id"
        )
    if not minhash_folded:
        write_minhash_store(curated, store, mode="append", generation=batch_id)
    # fold the CLEANED kept batch's grams in as the caller's stamped
    # generation: the next batch's span probe sums history + every prior
    # batch without re-reading any text (a replay of this batch_id
    # raises above instead of double-counting dfs). The EXACTLY-ONE-
    # folded case is a resumed crash between the two appends: skip the
    # committed store, complete the lagging one.
    if not gram_folded:
        append_gram_store(
            spark.read.parquet(f"{out_base}/curated/documents.parquet"),
            gram_store,
            generation=batch_id,
        )

    return CurationReport(
        batch_docs=batch.count(),
        kept_docs=kept,
        dropped_by_reason=reasons,
        drift_kl=kl,
        drift_new_token_rate=new_rate,
        split_counts=split_counts,
        span_removed_tokens=span_removed_tokens,
        leakage_pairs=leakage_pairs,
        leakage_moved=leakage_moved,
        novelty_mean=novelty_mean,
        memorized_docs=memorized_docs,
    )
