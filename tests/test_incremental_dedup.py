"""Incremental (new-batch-vs-history) dedup: exact cross-split operator and
the persisted MinHash store probe path."""

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.llmdata import dedup, genstore


def test_incremental_pairs_are_cross_split_subset_of_full(spark, sf_correct):
    """Every incremental pair is a full-dedup pair with opposite parity
    sides, and every cross-parity full-dedup pair is found — the
    incremental operator computes exactly the cross-split restriction."""
    full = {
        (min(r.a, r.b), max(r.a, r.b)): r.jaccard
        for r in dedup.q_dedup_jaccard(spark, sf_correct, threshold=0.8).collect()
    }
    cross_expected = {
        k: v for k, v in full.items() if (k[0] % 2) != (k[1] % 2)
    }
    inc = {
        (min(r.hist_id, r.new_id), max(r.hist_id, r.new_id)): r.jaccard
        for r in dedup.q_dedup_incremental(spark, sf_correct, threshold=0.8).collect()
    }
    assert inc == cross_expected
    for r in dedup.q_dedup_incremental(spark, sf_correct, threshold=0.8).collect():
        assert r.hist_id % 2 == 0 and r.new_id % 2 == 1


def test_minhash_store_probe_recall(spark, sf_correct, tmp_path):
    """Probing a persisted history store with the new batch reproduces the
    exact cross-split near-dup pairs (recall floor 0.8 at threshold 0.9 —
    the LSH family contract) without reading history text."""
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    hist, batch = dedup.split_history_batch(docs)
    store = str(tmp_path / "store")
    dedup.write_minhash_store(hist, store)

    got = {
        (r.hist_id, r.new_id)
        for r in dedup.probe_minhash_store(
            spark, store, batch, threshold=0.8
        ).collect()
    }
    exact = {
        (r.hist_id, r.new_id)
        for r in dedup.q_dedup_incremental(spark, sf_correct, threshold=0.9).collect()
    }
    assert all(h % 2 == 0 and n % 2 == 1 for h, n in got)
    if exact:
        recall = len(got & exact) / len(exact)
        assert recall >= 0.8, f"store-probe recall {recall} on {len(exact)} pairs"


def test_minhash_store_append_is_incremental(spark, sf_correct, tmp_path):
    """Appending a second batch to the store extends the probe surface
    without rewriting history: a probe after append finds duplicates of
    BOTH generations, and the first generation's rows are byte-identical."""
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    hist, batch = dedup.split_history_batch(docs)
    gen1 = hist.filter(F.col("doc_id") % 4 == 0)
    gen2 = hist.filter(F.col("doc_id") % 4 == 2)
    store = str(tmp_path / "store")

    dedup.write_minhash_store(gen1, store, generation="g1")
    sigs_before = {
        tuple(r) for r in spark.read.parquet(f"{store}/sigs").collect()
    }
    dedup.write_minhash_store(gen2, store, mode="append", generation="g2")
    sigs_after = {tuple(r) for r in spark.read.parquet(f"{store}/sigs").collect()}
    assert sigs_before < sigs_after  # old rows unchanged, new rows added

    merged = {
        (r.hist_id, r.new_id)
        for r in dedup.probe_minhash_store(spark, store, batch).collect()
    }
    full_store = str(tmp_path / "full")
    dedup.write_minhash_store(hist, full_store)
    direct = {
        (r.hist_id, r.new_id)
        for r in dedup.probe_minhash_store(spark, full_store, batch).collect()
    }
    assert merged == direct  # append-built store ≡ store built in one shot


def test_update_components_merges_across_generations(spark):
    """A new cross pair must FUSE two stored components, canonical = the
    global min, and untouched components must pass through intact."""
    from graphdb_neo4j_spark.llmdata.dedup import update_components

    stored = spark.createDataFrame(
        [(1, 1), (3, 1), (5, 5), (7, 5), (9, 9)], "node long, component long"
    )
    new_pairs = spark.createDataFrame([(3, 7)], "a long, b long")
    out = {
        r["node"]: r["component"]
        for r in update_components(stored, new_pairs).collect()
    }
    assert out == {1: 1, 3: 1, 5: 1, 7: 1, 9: 9}  # {1,3}+{5,7} fuse; {9} intact


def test_incremental_components_equal_fresh(spark, sf_correct):
    from graphdb_neo4j_spark.llmdata.dedup import (
        q_dedup_components,
        q_dedup_components_incremental,
    )

    fresh = {tuple(r) for r in q_dedup_components(spark, sf_correct).collect()}
    inc = {
        tuple(r)
        for r in q_dedup_components_incremental(spark, sf_correct).collect()
    }
    assert inc == fresh


def test_gram_store_clean_equals_registered_incremental(spark, sf_correct, tmp_path):
    """The persisted-store form must be IDENTICAL to the registered
    q_dedup_span_removal_incremental (hashed twin — the store keys are
    xxhash64): same docs, same clean_text, same token accounting."""
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    hist, batch = dedup.split_history_batch(docs)
    store = str(tmp_path / "gram_store")
    dedup.write_gram_store(hist, store)

    via_store = sorted(
        map(
            tuple,
            dedup.clean_batch_with_gram_store(spark, store, batch).collect(),
        )
    )
    registered = sorted(
        map(
            tuple,
            dedup.q_dedup_span_removal_incremental(
                spark, sf_correct, hashed=True
            ).collect(),
        )
    )
    assert via_store == registered
    assert any(r[2] > 0 for r in via_store)  # fixture has real removals


def test_gram_store_append_equals_one_shot(spark, sf_correct, tmp_path):
    """History folded in as two disjoint generations (append) must clean
    the batch identically to a one-shot store build — the additive-df
    contract that makes the store append-only."""
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    hist, batch = dedup.split_history_batch(docs)
    gen1 = hist.filter(F.col("doc_id") % 4 == 0)
    gen2 = hist.filter(F.col("doc_id") % 4 == 2)

    one_shot = str(tmp_path / "store_oneshot")
    dedup.write_gram_store(hist, one_shot)
    appended = str(tmp_path / "store_appended")
    dedup.write_gram_store(gen1, appended, generation="g1")
    dedup.append_gram_store(gen2, appended, generation="g2")

    a = sorted(
        map(
            tuple,
            dedup.clean_batch_with_gram_store(spark, one_shot, batch).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            dedup.clean_batch_with_gram_store(spark, appended, batch).collect(),
        )
    )
    assert a == b

    # compaction (sum-merge into ONE generation) must be invisible to the
    # probe: compacted clean ≡ multi-generation clean ≡ one-shot
    n_gens = dedup.compact_gram_store(spark, appended)
    assert n_gens == 2
    import glob

    assert len(glob.glob(f"{appended}/generation=*")) == 1
    c = sorted(
        map(
            tuple,
            dedup.clean_batch_with_gram_store(spark, appended, batch).collect(),
        )
    )
    assert c == a


def test_gram_store_replay_and_width_guards(spark, sf_correct, tmp_path):
    """A retried append of an already-folded generation must raise (it
    would double-count dfs and over-remove batch text), and a probe at a
    width the store was not built with must raise (it would silently
    miss every gram). The meta sidecar's replay ledger survives
    compaction."""
    import pytest

    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    hist, batch = dedup.split_history_batch(docs)
    gen1 = hist.filter(F.col("doc_id") % 4 == 0)
    gen2 = hist.filter(F.col("doc_id") % 4 == 2)

    store = str(tmp_path / "store")
    dedup.write_gram_store(gen1, store, generation="g1")
    dedup.append_gram_store(gen2, store, generation="g2")
    with pytest.raises(ValueError, match="already folded"):
        dedup.append_gram_store(gen2, store, generation="g2")
    with pytest.raises(ValueError, match="width"):
        dedup.clean_batch_with_gram_store(spark, store, batch, width=7)
    meta = genstore.read_meta(store, dedup.GRAM_STORE_META)
    assert meta == {
        "width": dedup.SPAN_WIDTH,
        "hash": "xxhash64",
        "generations": ["g1", "g2"],
        "active": ["g1", "g2"],
    }

    dedup.compact_gram_store(spark, store)
    assert genstore.read_meta(store, dedup.GRAM_STORE_META)["active"] == ["__compact__"]
    with pytest.raises(ValueError, match="already folded"):
        dedup.append_gram_store(gen1, store, generation="g1")
    with pytest.raises(ValueError, match="reserved"):
        dedup.append_gram_store(gen1, store, generation="__compact__")
    # appending to a path with no sidecar must raise the cold-start
    # error, whether it holds plain parquet or nothing at all
    flat = str(tmp_path / "flat_store")
    gen1.limit(5).selectExpr("doc_id", "text").write.parquet(flat)
    with pytest.raises(ValueError, match="cold-start"):
        dedup.append_gram_store(gen2, flat, generation="g9")
    with pytest.raises(ValueError, match="cold-start"):
        dedup.append_gram_store(gen2, str(tmp_path / "absent"), generation="g9")


def test_gram_store_crash_detection_and_repair(spark, sf_correct, tmp_path):
    """Kill-between-steps drill (VERDICT r10 #5): every crash point in
    the write/compact protocols must be DETECTED by the next
    probe/append (never silently mis-counted) and mechanically healed by
    repair_gram_store — roll-forward for an interrupted compaction
    (the staged data is durable before the point of no return),
    delete-orphan for an interrupted append (the batch never entered
    the ledger, so its retry is accepted)."""
    import json
    import os
    import shutil

    import pytest

    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    hist, batch = dedup.split_history_batch(docs)
    gen1 = hist.filter(F.col("doc_id") % 4 == 0)
    gen2 = hist.filter(F.col("doc_id") % 4 == 2)

    store = str(tmp_path / "store")
    dedup.write_gram_store(gen1, store, generation="g1")
    dedup.append_gram_store(gen2, store, generation="g2")
    clean = sorted(
        map(tuple, dedup.clean_batch_with_gram_store(spark, store, batch).collect())
    )

    # -- crash point A: append wrote data (+ marker) but died before the
    # meta commit — simulate by replaying g2's dir under a new id and
    # reverting meta to the pre-append state
    shutil.copytree(f"{store}/generation=g2", f"{store}/generation=g3")
    with pytest.raises(ValueError, match="repair_gram_store"):
        dedup.clean_batch_with_gram_store(spark, store, batch)
    with pytest.raises(ValueError, match="repair_gram_store"):
        dedup.append_gram_store(gen2, store, generation="g4")
    actions = dedup.repair_gram_store(store)
    assert any("generation=g3" in a for a in actions)
    assert sorted(
        map(tuple, dedup.clean_batch_with_gram_store(spark, store, batch).collect())
    ) == clean

    # -- crash point B: append died mid-data-write (no _COMMITTED) —
    # an uncommitted orphan must also be detected and deleted
    os.makedirs(f"{store}/generation=g5")
    with pytest.raises(ValueError, match="repair_gram_store"):
        dedup.clean_batch_with_gram_store(spark, store, batch)
    dedup.repair_gram_store(store)
    assert not os.path.exists(f"{store}/generation=g5")

    # -- crash point C: compaction staged _compact_tmp but died before
    # the pending flag — store is untouched; repair deletes the residue
    os.makedirs(f"{store}/{dedup._COMPACT_TMP}")
    actions = dedup.repair_gram_store(store)
    assert any(dedup._COMPACT_TMP in a for a in actions)

    # -- crash point D: compaction set pending_compact and died before
    # (or during) the delete/rename swap — probe refuses; repair rolls
    # FORWARD to the compacted layout and the clean is unchanged
    meta_p = os.path.join(store, dedup.GRAM_STORE_META)
    with open(meta_p) as f:
        meta = json.load(f)
    (
        spark.read.parquet(store)
        .groupBy("gram")
        .agg(F.sum("df").alias("df"))
        .write.parquet(f"{store}/{dedup._COMPACT_TMP}")
    )
    open(f"{store}/{dedup._COMPACT_TMP}/{genstore.COMMITTED}", "w").close()
    meta["pending_compact"] = True
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="interrupted compaction"):
        dedup.clean_batch_with_gram_store(spark, store, batch)
    with pytest.raises(ValueError, match="interrupted compaction"):
        dedup.compact_gram_store(spark, store)
    dedup.repair_gram_store(store)
    meta = genstore.read_meta(store, dedup.GRAM_STORE_META)
    assert meta["active"] == ["__compact__"]
    assert meta["generations"] == ["g1", "g2"]  # replay ledger preserved
    assert "pending_compact" not in meta
    assert sorted(
        map(tuple, dedup.clean_batch_with_gram_store(spark, store, batch).collect())
    ) == clean

    # -- crash point E: compaction died between the swap completing and
    # the meta finalize — pending flag with no tmp; repair finalizes meta
    meta["pending_compact"] = True
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    dedup.repair_gram_store(store)
    assert "pending_compact" not in genstore.read_meta(store, dedup.GRAM_STORE_META)

    # repair on a healthy store is a no-op
    assert dedup.repair_gram_store(store) == []


def test_gram_novelty_planted_fixture(spark, tmp_path):
    """Planted memorization levels: a batch doc that verbatim-copies a
    history doc scores novelty 0, an all-new doc scores 1, and a doc
    whose first half is a history passage lands strictly between — with
    exact n_grams/n_seen accounting at width=3."""
    hist_text = "h1 h2 h3 h4 h5 h6 h7 h8"
    rows = [
        (0, hist_text, "en", "s", len(hist_text)),  # history (even id)
        (1, hist_text, "en", "s", len(hist_text)),  # verbatim copy
        (3, "n1 n2 n3 n4 n5 n6 n7 n8", "en", "s", 23),  # all new
        (5, "h1 h2 h3 h4 x1 x2 x3 x4", "en", "s", 23),  # half memorized
        (7, "t1 t2", "en", "s", 5),  # too short for one gram: excluded
    ]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: (r["n_grams"], r["n_seen"], r["novelty_rate"])
        for r in dedup.q_gram_novelty(spark, str(tmp_path), width=3).collect()
    }
    assert set(out) == {1, 3, 5}  # batch docs with >= 1 gram only
    assert out[1] == (6, 6, 0.0)
    assert out[3] == (6, 0, 1.0)
    # doc 5: grams starting at h1..x2 (6 of them); only 'h1 h2 h3' and
    # 'h2 h3 h4' exist in history
    assert out[5] == (6, 2, round(1 - 2 / 6, 6))


def test_dup_source_matrix_planted_overlap(spark, tmp_path):
    """Planted cross-source duplication: feed A and feed B share one
    verbatim doc, feed A re-crawls one of its own — the matrix must
    attribute exactly one (A, B) pair and one (A, A) pair, and sources
    with no near-dups must not appear."""
    dup = " ".join(f"d{i}" for i in range(30))
    self_dup = " ".join(f"s{i}" for i in range(30))
    rows = [
        (0, dup, "en", "feedA", len(dup)),
        (1, dup, "en", "feedB", len(dup)),
        (2, self_dup, "en", "feedA", len(self_dup)),
        (3, self_dup, "en", "feedA", len(self_dup)),
        (4, " ".join(f"u{i}" for i in range(30)), "en", "feedC", 100),
    ]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in dedup.q_dup_source_matrix(spark, str(tmp_path)).collect()
    }
    assert out == {("feedA", "feedB"): 1, ("feedA", "feedA"): 1}


def test_gram_novelty_store_twin_equals_registered(spark, sf_correct, tmp_path):
    """The persisted-store novelty probe (hashed keys) must be IDENTICAL
    to the registered string-gram query on the parity split — the same
    hashed-twin contract the span family pins."""
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    hist, batch = dedup.split_history_batch(docs)
    store = str(tmp_path / "gram_store")
    dedup.write_gram_store(hist, store)

    via_store = sorted(
        map(
            tuple,
            dedup.gram_novelty_with_store(spark, store, batch).collect(),
        )
    )
    registered = sorted(
        map(tuple, dedup.q_gram_novelty(spark, sf_correct).collect())
    )
    assert via_store == registered
    assert via_store  # fixture has batch docs with >= 1 gram
    # width guard mirrors the clean probe's
    import pytest

    with pytest.raises(ValueError, match="width"):
        dedup.gram_novelty_with_store(spark, store, batch, width=7)


def test_minhash_store_crash_detection_and_repair(spark, sf_correct, tmp_path):
    """The minhash store shares the gram store's commit-log protocol
    (r11): a half-committed append — sigs landed, buckets did not, or
    either table without its marker — must be DETECTED by the next
    probe/append (the old behavior was a silent probe miss, or duplicate
    candidate pairs after a blind retry) and healed by
    repair_minhash_store; parameter-mismatched probes and appends raise;
    replayed generation ids raise."""
    import os
    import shutil

    import pytest

    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    hist, batch = dedup.split_history_batch(docs)
    gen1 = hist.filter(F.col("doc_id") % 4 == 0)
    gen2 = hist.filter(F.col("doc_id") % 4 == 2)

    store = str(tmp_path / "mstore")
    dedup.write_minhash_store(gen1, store, generation="g1")
    dedup.write_minhash_store(gen2, store, mode="append", generation="g2")
    pairs = {
        (r.hist_id, r.new_id)
        for r in dedup.probe_minhash_store(spark, store, batch).collect()
    }

    # replay + parameter guards
    with pytest.raises(ValueError, match="already folded"):
        dedup.write_minhash_store(gen2, store, mode="append", generation="g2")
    with pytest.raises(ValueError, match="width"):
        dedup.probe_minhash_store(spark, store, batch, width=3)
    with pytest.raises(ValueError, match="cold-start"):
        dedup.write_minhash_store(
            gen1, str(tmp_path / "absent"), mode="append", generation="g1"
        )

    # crash point: append wrote sigs (+ marker) but died before buckets —
    # simulate by cloning g2's sigs dir under a new id (meta not updated)
    shutil.copytree(
        f"{store}/sigs/generation=g2", f"{store}/sigs/generation=g3"
    )
    with pytest.raises(ValueError, match="repair_minhash_store"):
        dedup.probe_minhash_store(spark, store, batch)
    with pytest.raises(ValueError, match="repair_minhash_store"):
        dedup.write_minhash_store(gen1, store, mode="append", generation="g4")
    actions = dedup.repair_minhash_store(store)
    assert any("sigs/generation=g3" in a for a in actions)

    # crash point: buckets dir exists but has no _COMMITTED marker
    os.makedirs(f"{store}/buckets/generation=g5")
    os.makedirs(f"{store}/sigs/generation=g5")
    with pytest.raises(ValueError, match="repair_minhash_store"):
        dedup.probe_minhash_store(spark, store, batch)
    dedup.repair_minhash_store(store)
    assert not os.path.exists(f"{store}/buckets/generation=g5")

    # after repair the probe is byte-identical to the pre-crash answer
    again = {
        (r.hist_id, r.new_id)
        for r in dedup.probe_minhash_store(spark, store, batch).collect()
    }
    assert again == pairs
    assert dedup.repair_minhash_store(store) == []
    meta = genstore.read_meta(store, dedup.MINHASH_STORE_META)
    assert meta["generations"] == ["g1", "g2"]
    assert meta["active"] == ["g1", "g2"]


def _tiny_docs(spark, ids):
    """Docs long enough for MinHash shingles and width-15 span grams."""
    return spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(40))) for i in ids],
        "doc_id long, text string",
    )


def _snapshot(path):
    """{relative path: bytes} of every file under ``path``."""
    import os

    out = {}
    for root, _, files in os.walk(path):
        for name in files:
            with open(os.path.join(root, name), "rb") as f:
                out[os.path.relpath(os.path.join(root, name), path)] = f.read()
    return out


# kind -> (write, probe, repair, table whose marker the marker test drops)
_STORES = {
    "minhash": (
        dedup.write_minhash_store,
        dedup.probe_minhash_store,
        dedup.repair_minhash_store,
        "buckets",
    ),
    "gram": (
        dedup.write_gram_store,
        dedup.clean_batch_with_gram_store,
        dedup.repair_gram_store,
        "",
    ),
}


@pytest.mark.parametrize("kind", sorted(_STORES))
def test_store_rejects_unusable_generation_ids(spark, tmp_path, kind):
    """'2026/10' would nest generation dirs (the on-disk id never matches
    the ledgered one, bricking the store) and '__compact__' is the gram
    store's compaction output: both stores reject both ids, in either
    mode, before writing anything."""
    write = _STORES[kind][0]
    store = str(tmp_path / "store")
    write(_tiny_docs(spark, [0, 2]), store, generation="g1")
    before = _snapshot(store)
    for mode in ("append", "overwrite"):
        for gen in ("2026/10", "__compact__"):
            with pytest.raises(ValueError, match="generation id"):
                write(_tiny_docs(spark, [4]), store, mode=mode, generation=gen)
    assert _snapshot(store) == before


@pytest.mark.parametrize("kind", sorted(_STORES))
def test_store_rejects_unknown_mode(spark, tmp_path, kind):
    """An unknown mode used to skip every append guard and overwrite a
    committed generation's data under a duplicated ledger entry."""
    write = _STORES[kind][0]
    store = str(tmp_path / "store")
    write(_tiny_docs(spark, [0, 2]), store, generation="g1")
    before = _snapshot(store)
    with pytest.raises(ValueError, match="mode"):
        write(_tiny_docs(spark, [4]), store, mode="Append", generation="g1")
    assert _snapshot(store) == before


@pytest.mark.parametrize("kind", sorted(_STORES))
def test_active_generation_without_marker_names_rebuild(spark, tmp_path, kind):
    """An active generation without its _COMMITTED marker is a partial
    write the ledger already counts: probe and append raise, repair has
    nothing it can do (and a re-append of the ledgered id is refused), so
    the error names the mode='overwrite' rebuild."""
    import os

    write, probe, repair, table = _STORES[kind]
    store = str(tmp_path / "store")
    docs = _tiny_docs(spark, [0, 2])
    write(docs, store, generation="g1")
    os.remove(os.path.join(store, table, "generation=g1", genstore.COMMITTED))
    rebuild = "_COMMITTED marker.*mode='overwrite'"
    with pytest.raises(ValueError, match=rebuild):
        probe(spark, store, docs)
    with pytest.raises(ValueError, match=rebuild):
        write(_tiny_docs(spark, [4]), store, mode="append", generation="g2")
    assert repair(store) == []


def test_path_without_sidecar_is_not_a_store(spark, tmp_path):
    """With no meta sidecar there is no store to read: every probe and
    repair raises the cold-start error instead of probing the parquet
    that happens to be there."""
    flat = str(tmp_path / "flat")
    docs = _tiny_docs(spark, [1])
    docs.write.parquet(flat)
    for probe in (
        dedup.probe_minhash_store,
        dedup.clean_batch_with_gram_store,
        dedup.gram_novelty_with_store,
    ):
        with pytest.raises(ValueError, match="cold-start"):
            probe(spark, flat, docs)
    for repair in (dedup.repair_minhash_store, dedup.repair_gram_store):
        with pytest.raises(ValueError, match="cold-start"):
            repair(flat)


def test_split_leakage_is_cross_split_restriction(spark, sf_correct):
    """split_leakage (r12 debut) must be exactly the cross-split
    restriction of the near-dup pair set, oriented train->eval: every
    leakage row is a q_dedup_jaccard pair with endpoints on opposite
    sides of the holdout split, and every such pair appears exactly
    once with the sides correctly labeled."""
    from graphdb_neo4j_spark.llmdata.filterset import (
        q_holdout_split,
        q_split_leakage,
    )

    split = {
        r.doc_id: r.split for r in q_holdout_split(spark, sf_correct).collect()
    }
    pairs = {
        (min(r.a, r.b), max(r.a, r.b)): r.jaccard
        for r in dedup.q_dedup_jaccard(spark, sf_correct, threshold=0.8).collect()
    }
    expected = {
        (a if split[a] == "train" else b, b if split[a] == "train" else a): j
        for (a, b), j in pairs.items()
        if split[a] != split[b]
    }
    got = {
        (r.train_id, r.eval_id): r.jaccard
        for r in q_split_leakage(spark, sf_correct, threshold=0.8).collect()
    }
    assert got == expected
    for train_id, eval_id in got:
        assert split[train_id] == "train" and split[eval_id] == "eval"


def test_holdout_split_repaired_is_leakage_fixpoint(spark, sf_correct):
    """The repaired split (r12 debut) must be a leakage FIXPOINT: no
    near-dup pair may straddle it (component-level move-to-eval closes
    the transitive chain pair-level repair would leave open), only
    originally-train docs in eval-touched components are marked moved,
    everyone else keeps the LCG split, and eval only ever GROWS."""
    from graphdb_neo4j_spark.llmdata.filterset import (
        q_holdout_split,
        q_holdout_split_repaired,
    )

    base = {r.doc_id: r.split for r in q_holdout_split(spark, sf_correct).collect()}
    repaired = {
        r.doc_id: (r.split, r.moved)
        for r in q_holdout_split_repaired(spark, sf_correct).collect()
    }
    assert set(repaired) == set(base)

    pairs = {
        (r.a, r.b)
        for r in dedup.q_dedup_jaccard(spark, sf_correct, threshold=0.8).collect()
    }
    for a, b in pairs:  # fixpoint: no pair straddles the repaired split
        assert repaired[a][0] == repaired[b][0], (a, b)

    for doc_id, (split, moved) in repaired.items():
        if moved:
            assert base[doc_id] == "train" and split == "eval"
        else:
            assert split == base[doc_id]  # untouched docs keep the LCG split
        assert not (base[doc_id] == "eval" and split == "train")  # eval only grows


def test_holdout_repair_absorption_guard_and_stats(spark, tmp_path):
    """Eval-absorption guard (r13, VERDICT r12 #5): a planted MEGA
    near-dup component holding one eval doc drains its entire train
    membership into eval — the stats row must account the loss exactly,
    and max_moved_frac must raise on it while leaving the small-fallout
    default unchanged."""
    import pytest as _pytest

    from graphdb_neo4j_spark.llmdata.filterset import (
        _LCG_A,
        _LCG_C,
        _LCG_M,
        q_holdout_repair_stats,
        q_holdout_split_repaired,
    )

    def split_of(doc_id, pct=5):
        return "eval" if (doc_id * _LCG_A + _LCG_C) % _LCG_M % 100 < pct else "train"

    # mega-component: ids 0..59 share one text (one clique component);
    # ids 100..139 are unique (untouched by the repair)
    mega_text = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, mega_text, "en", "s", 0) for i in range(60)] + [
        (100 + i, " ".join(f"u{100 + i}w{j}" for j in range(40)), "en", "s", 0)
        for i in range(40)
    ]
    assert any(split_of(i) == "eval" for i in range(60)), (
        "fixture must put at least one eval doc in the mega-component"
    )
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")

    mega_train = [i for i in range(60) if split_of(i) == "train"]
    uniq_train = [i for i in range(100, 140) if split_of(i) == "train"]
    n_train_before = len(mega_train) + len(uniq_train)
    expected_frac = round(len(mega_train) / n_train_before, 6)

    stats = q_holdout_repair_stats(spark, str(tmp_path)).collect()[0]
    assert stats["n_docs"] == 100
    assert stats["n_train_before"] == n_train_before
    assert stats["n_moved"] == len(mega_train)  # the whole clique moved
    assert stats["moved_frac"] == expected_frac
    assert stats["n_eval_after"] == 100 - len(uniq_train)

    # the guard: the planted absorption exceeds a sane bound
    assert expected_frac > 0.2
    with _pytest.raises(ValueError, match="moved_frac"):
        q_holdout_split_repaired(spark, str(tmp_path), max_moved_frac=0.2)
    # a loose bound admits it, and the default stays guard-free
    q_holdout_split_repaired(spark, str(tmp_path), max_moved_frac=0.99).count()
    q_holdout_split_repaired(spark, str(tmp_path)).count()


def test_holdout_repair_drop_both_policy(spark, tmp_path):
    """drop_both (r13): the remedy the absorption guard points at — an
    any-eval mega-component is EXCLUDED from both splits instead of
    draining train into eval. Still a leakage fixpoint (whole components
    vanish), untouched docs keep their LCG split, and train keeps its
    non-component text."""
    import pytest as _pytest

    from graphdb_neo4j_spark.llmdata.filterset import (
        q_holdout_split,
        q_holdout_split_repaired,
        q_split_leakage,
    )

    mega_text = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, mega_text, "en", "s", 0) for i in range(60)] + [
        (100 + i, " ".join(f"u{100 + i}w{j}" for j in range(40)), "en", "s", 0)
        for i in range(40)
    ]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")

    base = {r.doc_id: r.split for r in q_holdout_split(spark, str(tmp_path)).collect()}
    dropped = {
        r.doc_id: (r.split, r.moved)
        for r in q_holdout_split_repaired(
            spark, str(tmp_path), policy="drop_both"
        ).collect()
    }
    # the whole mega-component (ids 0..59) is gone from BOTH splits
    assert set(dropped) == set(range(100, 140))
    for doc_id, (split, moved) in dropped.items():
        assert split == base[doc_id]  # survivors keep the LCG split
        assert moved is False
    # train text outside the component is fully preserved
    assert {d for d, (s, _) in dropped.items() if s == "train"} == {
        d for d in range(100, 140) if base[d] == "train"
    }
    # fixpoint: no leakage pair survives among the remaining docs (every
    # near-dup pair was within the dropped component)
    leaks = q_split_leakage(spark, str(tmp_path)).collect()
    leak_ids = {r.train_id for r in leaks} | {r.eval_id for r in leaks}
    assert leak_ids.isdisjoint(set(dropped))

    with _pytest.raises(ValueError, match="unknown repair policy"):
        q_holdout_split_repaired(spark, str(tmp_path), policy="bogus")
