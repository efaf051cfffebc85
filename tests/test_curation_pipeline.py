"""Continuous-ingest curation pipeline: closed accounting, drop-reason
precedence, drift gate, store growth."""

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.llmdata import pipeline
from graphdb_neo4j_spark.llmdata.genstore import read_meta


@pytest.fixture(scope="module")
def report(spark, sf_correct, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("curation"))
    return pipeline.run_curation_pipeline(spark, sf_correct, out), out


def test_accounting_closes(spark, sf_correct, report):
    rep, _ = report
    assert rep.batch_docs == rep.kept_docs + rep.dropped_docs
    batch_n = (
        spark.read.parquet(f"{sf_correct}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 1)
        .count()
    )
    assert rep.batch_docs == batch_n
    assert set(rep.dropped_by_reason) <= {
        "near_dup_history", "low_quality", "span_emptied",
    }


def test_curated_set_matches_report_and_is_batch_only(spark, report):
    rep, out = report
    curated = spark.read.parquet(f"{out}/curated/documents.parquet")
    assert curated.count() == rep.kept_docs
    assert curated.filter(F.col("doc_id") % 2 == 0).count() == 0  # batch only
    assert sum(rep.split_counts.values()) == rep.kept_docs


def test_dup_precedence_over_quality(spark, sf_correct, report):
    """A batch doc that is BOTH a history near-dup and low quality must be
    attributed to near_dup_history (the earlier gate)."""
    from graphdb_neo4j_spark.llmdata.dedup import q_dedup_incremental

    rep, out = report
    dup_ids = {
        r["new_id"] for r in q_dedup_incremental(spark, sf_correct).collect()
    }
    if not dup_ids:
        pytest.skip("fixture has no cross-split near-dups at this SF")
    curated_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/curated/documents.parquet").collect()
    }
    assert not (dup_ids & curated_ids)  # no history dup survives, ever
    assert rep.dropped_by_reason.get("near_dup_history", 0) == len(dup_ids)


def test_store_contains_history_plus_kept_batch(spark, sf_correct, report):
    rep, out = report
    sigs = spark.read.parquet(f"{out}/minhash_store/sigs")
    hist_n = (
        spark.read.parquet(f"{sf_correct}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .count()
    )
    # every history doc + every kept batch doc with ≥1 shingle signs in
    assert hist_n + rep.kept_docs >= sigs.count() >= hist_n


def test_span_stage_state_and_text_integrity(spark, sf_correct, report):
    """The span stage must (a) leave the gram store with exactly the
    history + kept-batch generations and a valid meta sidecar, (b) stamp
    curated text as the CLEANED text with consistent n_chars, and (c)
    keep no curated doc containing a ≥width-token passage history owns
    (probe the store over the curated set: zero removal hits remain —
    cleaning is idempotent)."""
    import glob

    from graphdb_neo4j_spark.llmdata import dedup

    rep, out = report
    meta = read_meta(f"{out}/gram_store", dedup.GRAM_STORE_META)
    assert meta["width"] == dedup.SPAN_WIDTH
    assert meta["generations"] == ["history", "batch-0"]
    assert len(glob.glob(f"{out}/gram_store/generation=*")) == 2
    assert rep.span_removed_tokens >= 0

    curated = spark.read.parquet(f"{out}/curated/documents.parquet")
    bad = curated.filter(
        F.length("text") != F.col("n_chars")
    ).count()
    assert bad == 0

    # idempotence: the curated set, probed against the HISTORY generation
    # alone, has nothing left to cut (history passages were removed; the
    # kept-batch generation would flag the curated docs' own canonical
    # copies, so probe a history-only store)
    hist_store = f"{out}/gram_store_hist_only"
    hist = spark.read.parquet(f"{sf_correct}/documents.parquet").filter(
        F.col("doc_id") % 2 == 0
    )
    dedup.write_gram_store(hist, hist_store, generation="history")
    again = dedup.clean_batch_with_gram_store(spark, hist_store, curated)
    assert again.filter(F.col("n_removed") > 0).count() == 0


def test_novelty_profile_in_report(spark, report):
    """The kept batch's gram-novelty profile rides the report: mean in
    [0, 1] over kept docs, memorized count bounded by kept docs."""
    rep, _ = report
    assert rep.novelty_mean is None or 0.0 <= rep.novelty_mean <= 1.0
    assert 0 <= rep.memorized_docs <= rep.kept_docs


def test_verbatim_batch_reads_as_memorized(spark, tmp_path):
    """A batch that verbatim-copies history must profile as novelty ~0
    with every gram-bearing kept doc at/below the memorization
    threshold — the paraphrase-mosaic/memorization dial working."""
    text = " ".join(f"w{i}" for i in range(40))
    rows = [(i, text, "en", "s", len(text)) for i in range(20)]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rep = pipeline.run_curation_pipeline(
        spark, str(tmp_path), str(tmp_path / "out"), keep_frac=1.0
    )
    # every odd doc is an exact dup of history, so the dedup gate may
    # drop them all before the novelty probe — accept either shape:
    # docs that REACH the profile read as fully memorized
    if rep.kept_docs:
        assert rep.novelty_mean == 0.0
        assert rep.memorized_docs == rep.kept_docs
    else:
        assert rep.dropped_by_reason.get("near_dup_history", 0) > 0


def test_gram_store_accumulates_across_batches(spark, sf_correct, report):
    """Successive invocations with distinct batch ids must ACCUMULATE
    gram-store generations (the history generation cold-starts only when
    the store is absent — ADVICE r10), and a replayed batch id must raise
    via the ledger instead of being masked by a store rebuild."""
    from graphdb_neo4j_spark.llmdata import dedup

    _, out = report
    with pytest.raises(ValueError, match="already folded"):
        pipeline.run_curation_pipeline(spark, sf_correct, out)  # batch-0 again
    pipeline.run_curation_pipeline(spark, sf_correct, out, batch_id="batch-1")
    meta = read_meta(f"{out}/gram_store", dedup.GRAM_STORE_META)
    assert meta["generations"] == ["history", "batch-0", "batch-1"]


@pytest.mark.parametrize("batch_id", ["2026/10", "__compact__"], ids=["slash", "reserved"])
def test_unusable_batch_id_raises_before_any_write(spark, sf_correct, tmp_path, batch_id):
    """A batch id either store would reject must fail before the first
    stage: '__compact__' used to fold into the MinHash ledger and then
    raise at the gram store, so every retry skipped one store and died
    at the other."""
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="generation id"):
        pipeline.run_curation_pipeline(spark, sf_correct, str(out), batch_id=batch_id)
    assert not out.exists()


def test_drift_gate_rejects_poisoned_batch(spark, tmp_path):
    rows = [(i, "the quick brown fox jumps over the dog", "en", "s", 38) for i in range(0, 40, 2)]
    rows += [(i, "zzq wvx qqj kkp mmr ttb glk hhw", "de", "s", 31) for i in range(1, 40, 2)]
    spark.createDataFrame(
        rows, schema="doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    with pytest.raises(ValueError, match="batch rejected"):
        pipeline.run_curation_pipeline(
            spark, str(tmp_path), str(tmp_path / "out"), max_drift_kl=1.0
        )


def test_group_sample_exact_k_and_deterministic(spark, sf_correct):
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.llmdata.filterset import q_group_sample

    out = q_group_sample(spark, sf_correct, k=5)
    sizes = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    totals = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for src, n in sizes.items():
        assert n == min(5, totals[src])  # EXACTLY k (or the whole group)
    a = {tuple(r) for r in q_group_sample(spark, sf_correct, k=5).collect()}
    b = {tuple(r) for r in q_group_sample(spark, sf_correct, k=5).collect()}
    assert a == b  # reruns pick the identical sample


def _write_mosaic_fixture(spark, path):
    """History (even ids): two long distinct docs. Batch (odd ids): one
    paraphrase-mosaic doc (a 48-token verbatim pull from a 60-token
    history doc plus 8 fresh glue tokens — 15-gram novelty 8/42 ≈ 0.19
    ≤ 0.2, measured BELOW the near-dup bar by the incremental dedup
    operator itself, and span removal would keep its glue residue rather
    than empty it) and one doc whose TOKENS are all history tokens but
    whose gram ORDER is novel (alpha/beta interleave: novelty 1.0,
    near-dup-free)."""
    h0 = " ".join(f"alpha{i}" for i in range(60))
    h2 = " ".join(f"beta{i}" for i in range(60))
    mosaic = " ".join(f"alpha{i}" for i in range(48)) + " " + " ".join(
        f"glue{i}" for i in range(8)
    )
    novel = " ".join(
        f"alpha{i} beta{i}" for i in range(20)
    )
    rows = [
        (0, h0, "en", "s", len(h0)),
        (2, h2, "en", "s", len(h2)),
        (1, mosaic, "en", "s", len(mosaic)),
        (3, novel, "en", "s", len(novel)),
    ]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{path}/documents.parquet")


def test_memorized_gate_drops_mosaic_batch(spark, tmp_path):
    """Armed gate (r12, VERDICT r11 #5): a kept batch doc whose gram
    novelty sits at/below the threshold drops with its own `memorized`
    reason BEFORE span removal; accounting still closes; the default
    (report-only) run keeps the mosaic's glue residue instead."""
    _write_mosaic_fixture(spark, tmp_path)

    # default: report-only — no `memorized` reason ever appears; the
    # mosaic survives as span-cleaned glue residue
    rep_off = pipeline.run_curation_pipeline(
        spark, str(tmp_path), str(tmp_path / "off"), keep_frac=1.0, max_drift_kl=1e9
    )
    assert "memorized" not in rep_off.dropped_by_reason
    assert rep_off.batch_docs == rep_off.kept_docs + rep_off.dropped_docs
    off_ids = {
        r["doc_id"]
        for r in spark.read.parquet(
            f"{tmp_path}/off/curated/documents.parquet"
        ).collect()
    }
    assert 1 in off_ids  # glue residue kept: the gap the gate closes

    rep_on = pipeline.run_curation_pipeline(
        spark, str(tmp_path), str(tmp_path / "on"), keep_frac=1.0,
        max_drift_kl=1e9, memorized_gate_max=0.2,
    )
    assert rep_on.dropped_by_reason.get("memorized") == 1
    assert rep_on.batch_docs == rep_on.kept_docs + rep_on.dropped_docs
    on_ids = {
        r["doc_id"]
        for r in spark.read.parquet(
            f"{tmp_path}/on/curated/documents.parquet"
        ).collect()
    }
    assert 1 not in on_ids  # the mosaic is gone entirely
    assert 3 in on_ids  # the novel doc is untouched
    # profile telemetry is measured pre-gate, so it is identical on/off
    assert rep_on.memorized_docs == rep_off.memorized_docs
    assert rep_on.novelty_mean == rep_off.novelty_mean


def test_crash_between_store_appends_is_resumable(spark, tmp_path, monkeypatch):
    """The two per-store appends commit independently; a crash between
    them (minhash ledger has batch_id, gram ledger does not) must be
    completable by a plain retry — the retry skips the committed store
    and finishes the lagging one (ADVICE r11). A third run with the same
    batch_id (both committed) still raises."""
    import pytest as _pytest

    from graphdb_neo4j_spark.llmdata import dedup

    _write_mosaic_fixture(spark, tmp_path)
    out = str(tmp_path / "out")

    real_append = dedup.append_gram_store

    def boom(*a, **k):
        raise RuntimeError("injected crash between store appends")

    monkeypatch.setattr(dedup, "append_gram_store", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        pipeline.run_curation_pipeline(spark, str(tmp_path), out, keep_frac=1.0, max_drift_kl=1e9)
    # half-committed: minhash ledger advanced, gram ledger did not
    assert "batch-0" in read_meta(f"{out}/minhash_store", dedup.MINHASH_STORE_META)["generations"]
    gmeta = read_meta(f"{out}/gram_store", dedup.GRAM_STORE_META)
    assert "batch-0" not in gmeta["generations"]

    monkeypatch.setattr(dedup, "append_gram_store", real_append)
    rep = pipeline.run_curation_pipeline(spark, str(tmp_path), out, keep_frac=1.0, max_drift_kl=1e9)
    assert rep.batch_docs == rep.kept_docs + rep.dropped_docs
    assert "batch-0" in read_meta(f"{out}/minhash_store", dedup.MINHASH_STORE_META)["generations"]
    assert "batch-0" in read_meta(f"{out}/gram_store", dedup.GRAM_STORE_META)["generations"]

    with _pytest.raises(ValueError, match="already folded"):
        pipeline.run_curation_pipeline(spark, str(tmp_path), out, keep_frac=1.0, max_drift_kl=1e9)


def test_leakage_audit_and_repair_in_curation(spark, tmp_path):
    """Leakage audit stage (r13, VERDICT r12 #6): two curated batch docs
    that near-duplicate each other at the audit bar (but are BELOW the
    0.8 incremental-dedup bar, so dedup keeps both — the exact
    looser-dedup-than-leakage-bar hole the audit exists to measure) land
    on opposite LCG splits. The audit arm must count the pair; the
    repair arm must move the component to eval, report the move, and
    zero the audit — measured from the written artifact."""
    # batch pair: doc 1 (train) ≈ doc 11 (eval) under the LCG split.
    # Same-length token substitution every 14 tokens keeps every shared
    # verbatim run at 13 tokens < SPAN_WIDTH=15 (span removal cuts
    # nothing) while char-shingle Jaccard stays ~0.4 — above the 0.35
    # audit bar, far below the 0.8 dedup bar.
    toks_a = [f"w{i:02d}" for i in range(60)]
    toks_b = list(toks_a)
    for p in (7, 21, 35, 49):
        toks_b[p] = f"x{p:02d}"
    rows = [
        (0, " ".join(f"g{i:02d}" for i in range(60)), "en", "s", 0),  # history
        (2, " ".join(f"h{i:02d}" for i in range(60)), "en", "s", 0),  # history
        (1, " ".join(toks_a), "en", "s", 0),   # batch, LCG train
        (11, " ".join(toks_b), "en", "s", 0),  # batch, LCG eval
        (3, " ".join(f"z{i:02d}" for i in range(60)), "en", "s", 0),  # batch
    ]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")

    # audit only: the cross-split near-dup pair is MEASURED, split
    # assignment itself unchanged
    rep = pipeline.run_curation_pipeline(
        spark, str(tmp_path), str(tmp_path / "audit"), keep_frac=1.0,
        max_drift_kl=1e9, leakage_audit_threshold=0.35,
    )
    assert rep.leakage_pairs == 1
    assert rep.leakage_moved == 0
    assert rep.batch_docs == rep.kept_docs + rep.dropped_docs
    audit_split = {
        r.doc_id: r.split
        for r in spark.read.parquet(
            f"{tmp_path}/audit/curated/documents.parquet"
        ).collect()
    }
    assert audit_split[1] == "train" and audit_split[11] == "eval"

    # repair arm: the pair's component moves entirely to eval, the move
    # is accounted, and a re-audit of the artifact reads zero
    rep2 = pipeline.run_curation_pipeline(
        spark, str(tmp_path), str(tmp_path / "rep"), keep_frac=1.0,
        max_drift_kl=1e9, leakage_audit_threshold=0.35, repair_leakage=True,
    )
    assert rep2.leakage_pairs == 0
    assert rep2.leakage_moved == 1  # doc 1: train -> eval
    rep_split = {
        r.doc_id: r.split
        for r in spark.read.parquet(
            f"{tmp_path}/rep/curated/documents.parquet"
        ).collect()
    }
    assert rep_split[1] == "eval" and rep_split[11] == "eval"
    assert rep_split[3] == audit_split[3]  # untouched doc keeps its split
    assert sum(rep2.split_counts.values()) == rep2.kept_docs

    # default: no audit requested, fields stay at their None/0 contract
    rep3 = pipeline.run_curation_pipeline(
        spark, str(tmp_path), str(tmp_path / "off"), keep_frac=1.0,
        max_drift_kl=1e9,
    )
    assert rep3.leakage_pairs is None
    assert rep3.leakage_moved == 0


def test_curation_decontamination_gate(spark, tmp_path):
    """Per-batch decontamination (r13, opt-in): a batch doc carrying a
    verbatim 13-gram pull from a benchmark doc (below the 0.8 near-dup
    bar, so incremental dedup keeps it), a batch doc that IS a benchmark
    doc, and a semantic evader (unique text, benchmark-identical
    embedding) must drop with the `contaminated` reason under the
    respective gate arms; the default run keeps all of them and the
    accounting always closes."""
    bench_toks = [f"b{i:02d}" for i in range(60)]
    pull = " ".join(bench_toks[:13]) + " " + " ".join(
        f"fresh{i:02d}" for i in range(47)
    )
    rows = [
        (0, " ".join(bench_toks), "en", "s", 0),              # history + benchmark
        (2, " ".join(f"h{i:02d}" for i in range(60)), "en", "s", 0),  # history
        (1, pull, "en", "s", 0),               # batch: exact-channel contamination
        (11, " ".join(f"m{i:02d}" for i in range(60)), "en", "s", 0),  # batch: IS a benchmark doc (id < 32)
        (33, " ".join(f"u{i:02d}" for i in range(60)), "en", "s", 0),  # batch: clean
        (35, " ".join(f"v{i:02d}" for i in range(60)), "en", "s", 0),  # batch: semantic evader
    ]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    e = [1.0, 0.0, 0.0, 0.0]
    emb_dir = str(tmp_path / "emb")
    spark.createDataFrame(
        [(0, e, 0), (35, e, 1)],
        schema="vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{emb_dir}/embeddings.parquet")

    def curated_ids(out):
        return {
            r.doc_id
            for r in spark.read.parquet(
                f"{out}/curated/documents.parquet"
            ).collect()
        }

    # default: no gate — everything batch-side survives
    off = pipeline.run_curation_pipeline(
        spark, str(tmp_path), str(tmp_path / "off"), keep_frac=1.0,
        max_drift_kl=1e9,
    )
    assert "contaminated" not in off.dropped_by_reason
    assert curated_ids(str(tmp_path / "off")) == {1, 11, 33, 35}
    assert off.batch_docs == off.kept_docs + off.dropped_docs

    # lexical gate: the 13-gram pull and the benchmark member drop
    lex = pipeline.run_curation_pipeline(
        spark, str(tmp_path), str(tmp_path / "lex"), keep_frac=1.0,
        max_drift_kl=1e9, decontaminate_bench_max_id=32,
    )
    assert lex.dropped_by_reason["contaminated"] == 2
    assert curated_ids(str(tmp_path / "lex")) == {33, 35}
    assert lex.batch_docs == lex.kept_docs + lex.dropped_docs

    # + semantic arm: the embedding-identical evader drops too
    sem = pipeline.run_curation_pipeline(
        spark, str(tmp_path), str(tmp_path / "sem"), keep_frac=1.0,
        max_drift_kl=1e9, decontaminate_bench_max_id=32,
        decontaminate_embeddings_dir=emb_dir,
    )
    assert sem.dropped_by_reason["contaminated"] == 3
    assert curated_ids(str(tmp_path / "sem")) == {33}
    assert sem.batch_docs == sem.kept_docs + sem.dropped_docs
