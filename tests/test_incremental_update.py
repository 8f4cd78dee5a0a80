"""Index maintenance: new docs fold into an existing index as LSM delta
segments (checkpoint.update_index_delta, the one update entry point),
with admissible inflation of stale pruning bounds, minor and major
compaction, crash-safe commits and the writer lease."""

from __future__ import annotations

import json
import zlib

import pytest
from pyspark.sql import functions as F

NUM_PARTS = 4
CHUNK = 16


def _part(term: str) -> int:
    return zlib.crc32(term.encode()) % NUM_PARTS


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vocab_by_part():
    """Terms grouped by their crc32 part id (mirrors the builder's
    partitioning, so the test can choose which parts an update hits)."""
    by_part: dict[int, list[str]] = {p: [] for p in range(NUM_PARTS)}
    i = 0
    while any(len(v) < 6 for v in by_part.values()):
        t = f"t{i:03d}"
        by_part[_part(t)].append(t)
        i += 1
    return by_part


def _corpus_a(by_part):
    rows = []
    for d in range(40):
        terms = []
        for p in range(NUM_PARTS):
            terms += [by_part[p][d % 5], by_part[p][(d * 3 + 1) % 5]]
        rows.append((d, " ".join(terms * (1 + d % 3))))
    return rows


def _corpus_b(by_part, touch_parts=(0, 1)):
    """New docs use ONLY terms from ``touch_parts`` and are much
    longer than corpus A (avg_doc_len grows -> the stale-bound
    inflation path is exercised on the untouched parts)."""
    rows = []
    for j in range(12):
        d = 100 + j
        terms = [by_part[p][(j + k) % 6] for p in touch_parts for k in range(3)]
        rows.append((d, " ".join(terms * 8)))
    return rows


def _ranked(spark, out_dir, queries, mode):
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index import query as q_mod
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    index_df, _s, ts, codec, man = b_mod.load_index(spark, out_dir)
    res = q_mod.run_ranked(
        spark, index_df, queries_to_df(spark, queries), codec,
        man["num_docs"], man["avg_doc_len"], mode=mode, k=10,
        dtype="float32", term_stats_df=ts,
    )
    return [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
        for r in res.orderBy("query_id", "rank").collect()
    ]


def _docpart(spark, out_dir, queries):
    from partitioned_ef_ans_spark.index import blockmax as bmx
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    index_df, _s, ts, codec, man = b_mod.load_index(spark, out_dir)
    res = bmx.run_blockmax_docpartitioned(
        spark, index_df, queries_to_df(spark, queries), codec,
        man["num_docs"], man["avg_doc_len"], term_stats_df=ts, k=10,
    )
    return [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
        for r in res.orderBy("query_id", "rank").collect()
    ]


def _decode_flat_rows(spark, out_dir):
    from partitioned_ef_ans_spark.cli import _decode_flat
    from partitioned_ef_ans_spark.index import build as b_mod

    index_df, _s, _t, codec, _m = b_mod.load_index(spark, out_dir)
    return {
        (r["term"], r["doc_id"], r["tf"])
        for r in _decode_flat(spark, index_df, codec).collect()
    }


@pytest.mark.parametrize("codec", ["ans", "u32"])
def test_incremental_update_matches_full_rebuild(spark, tmp_path, codec):
    """A delta batch of much longer docs grows avg_doc_len, so the base
    parts' frozen max-weight bounds go stale: load_index inflates them
    (part_bound_scales > 1), every retrieval mode — including queries
    that touch only base parts — stays rank-identical to a full
    rebuild, and re-deriving term_stats from the loaded index gives
    the committed term_stats.parquet row for row."""
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        part_bound_scales,
        update_index_delta,
    )
    from partitioned_ef_ans_spark.tokenizer import term_frequencies, tokenize

    by_part = _vocab_by_part()
    rows_a, rows_b = _corpus_a(by_part), _corpus_b(by_part)
    inc_dir = str(tmp_path / f"inc_{codec}")
    full_dir = str(tmp_path / f"full_{codec}")

    build_index_resumable(
        spark, _mk_docs(spark, rows_a), inc_dir, codec=codec,
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    man = update_index_delta(spark, inc_dir, _mk_docs(spark, rows_b))
    assert man["delta_segments"] == 1

    build_index_resumable(
        spark, _mk_docs(spark, rows_a + rows_b), full_dir, codec=codec,
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )

    # 1. lossless: decode the whole updated index == tokenized truth
    truth = {
        (r["term"], r["doc_id"], r["tf"])
        for r in term_frequencies(
            tokenize(_mk_docs(spark, rows_a + rows_b),
                     doc_col="doc_id", text_col="text")
        ).collect()
    }
    assert _decode_flat_rows(spark, inc_dir) == truth

    # 2. the base parts were encoded under the old, smaller avg_len:
    # their bounds are inflated; the delta part's are current
    scales = part_bound_scales(inc_dir, man["avg_doc_len"])
    assert set(scales) == set(range(NUM_PARTS))
    assert all(s > 1.0 for s in scales.values())

    # 3. every retrieval mode is rank-identical to the full rebuild
    qs = [
        (0, [by_part[0][0], by_part[2][0]]),   # base + delta chunks
        (1, [by_part[2][1], by_part[3][1]]),   # base parts only (stale bounds)
        (2, [by_part[0][1]]),
        (3, [by_part[1][0], by_part[1][2], by_part[3][0]]),
    ]
    for mode in ("blockmax", "wand", "taat", "ranked_or"):
        assert _ranked(spark, inc_dir, qs, mode) == _ranked(
            spark, full_dir, qs, mode
        ), f"mode {mode} diverges from full rebuild"
    # doc-partitioned pruned execution also honors the inflated bounds
    assert _docpart(spark, inc_dir, qs) == _docpart(spark, full_dir, qs)

    # 4. term_stats is a function of the index alone (create_wand_data
    # re-derives it this way)
    rederived = b_mod.term_stats_agg(b_mod.load_index(spark, inc_dir)[0])
    committed = spark.read.parquet(f"{inc_dir}/term_stats.parquet")
    assert sorted(tuple(r) for r in rederived.collect()) == sorted(
        tuple(r) for r in committed.collect()
    )


def test_replay_same_batch_is_noop(spark, tmp_path):
    """At-least-once delivery: replaying an already-applied delta batch
    with skip_stale must change nothing (doc stats enter the replay
    filter only after the segment is fully written, so this also
    guards the append-last crash-safety ordering)."""
    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    batch = _mk_docs(spark, _corpus_delta(by_part))
    man1 = update_index_delta(spark, d, batch, skip_stale=True)
    assert man1["delta_segments"] == 1
    before = _decode_flat_rows(spark, d)
    man2 = update_index_delta(spark, d, batch, skip_stale=True)
    assert man2["update_sec"] == 0.0
    assert man2["delta_segments"] == 1
    assert _decode_flat_rows(spark, d) == before


def test_recover_swaps_restores_interrupted_rename(tmp_path):
    import os

    from partitioned_ef_ans_spark.index.checkpoint import _recover_swaps

    root = tmp_path / "index.parquet"
    root.mkdir()
    # crash between the two renames: final missing, bak present
    (root / ".part=3.bak_swap").mkdir()
    (root / ".part=3.bak_swap" / "f.parquet").write_bytes(b"x")
    # stray tmp from an interrupted write
    (root / ".part=5.tmp_swap").mkdir()
    _recover_swaps([str(root)])
    assert (root / "part=3" / "f.parquet").exists()
    assert not (root / ".part=3.bak_swap").exists()
    assert not (root / ".part=5.tmp_swap").exists()
    # bak alongside a LIVE final dir (crash after promote): bak dropped
    (root / ".part=3.bak_swap").mkdir()
    _recover_swaps([str(root)])
    assert (root / "part=3").exists()
    assert not (root / ".part=3.bak_swap").exists()
    assert os.listdir(root) == ["part=3"]


def test_compaction_resets_inflation_and_stays_exact(spark, tmp_path):
    """After a drifty delta update (much longer docs grow avg_doc_len,
    so the base parts' bounds go stale), compact_index retrains +
    re-encodes everything under the current stats: the per-part bound
    inflation disappears, and retrieval stays rank-identical to a
    from-scratch rebuild."""
    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        compact_index,
        part_bound_scales,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    rows_a, rows_b = _corpus_a(by_part), _corpus_b(by_part)
    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    build_index_resumable(
        spark, _mk_docs(spark, rows_a), inc_dir, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    man = update_index_delta(spark, inc_dir, _mk_docs(spark, rows_b))
    assert part_bound_scales(inc_dir, man["avg_doc_len"])

    man2 = compact_index(spark, inc_dir)
    assert man2["compactions"] == 1
    assert part_bound_scales(inc_dir, man2["avg_doc_len"]) == {}

    build_index_resumable(
        spark, _mk_docs(spark, rows_a + rows_b), full_dir, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    full_man = json.load(open(f"{full_dir}/manifest.json"))
    # fresh models on the merged corpus: compacted bpp == rebuild bpp
    assert abs(man2["bits_per_posting"] - full_man["bits_per_posting"]) < 1e-9
    qs = [(0, [by_part[0][0], by_part[2][0]]), (1, [by_part[3][1]])]
    for mode in ("blockmax", "wand"):
        assert _ranked(spark, inc_dir, qs, mode) == _ranked(
            spark, full_dir, qs, mode
        )


@pytest.mark.parametrize("codec", ["pef", "ans"])
def test_sparse_doc_ids_update_uses_true_universe(spark, tmp_path, codec):
    """The update contract only requires fresh (not dense) doc_ids:
    EF-family payloads laid out against the doc COUNT instead of
    max_id+1 silently corrupt once ids are sparse.  Both the EF
    per-segment-universe path and the ANS per-segment-model path must
    stay lossless and rank-identical to a full rebuild on the same
    sparse ids."""
    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    rows_a = _corpus_a(by_part)
    rows_b = [(1000, " ".join(by_part[0][:3] * 5)),
              (5000, " ".join(by_part[2][:3] * 7))]
    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    build_index_resumable(
        spark, _mk_docs(spark, rows_a), inc_dir, codec=codec,
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    man = update_index_delta(spark, inc_dir, _mk_docs(spark, rows_b))
    assert man["universe"] == 5001 and man["num_docs"] == 42

    from partitioned_ef_ans_spark.tokenizer import term_frequencies, tokenize

    truth = {
        (r["term"], r["doc_id"], r["tf"])
        for r in term_frequencies(
            tokenize(_mk_docs(spark, rows_a + rows_b),
                     doc_col="doc_id", text_col="text")
        ).collect()
    }
    assert _decode_flat_rows(spark, inc_dir) == truth

    build_index_resumable(
        spark, _mk_docs(spark, rows_a + rows_b), full_dir, codec=codec,
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    qs = [(0, [by_part[0][0], by_part[2][0]]), (1, [by_part[3][1]])]
    for mode in ("taat", "blockmax"):
        assert _ranked(spark, inc_dir, qs, mode) == _ranked(
            spark, full_dir, qs, mode
        )


def test_update_lock_blocks_concurrent_writers(spark, tmp_path):
    """A live holder of the update lock blocks a second writer with a
    clear error; a dead holder's lock is taken over silently."""
    from partitioned_ef_ans_spark.index.checkpoint import (
        UpdateInProgress,
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="u32",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    batch = _mk_docs(spark, [(500, "t000 t001")])
    import os
    import subprocess
    import sys

    # a LIVE foreign pid holds the lock -> second writer refuses
    holder = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        with open(f"{d}/.update_lock", "w") as fh:
            fh.write(str(holder.pid))
        with pytest.raises(UpdateInProgress):
            update_index_delta(spark, d, batch)
    finally:
        holder.kill()
        holder.wait()
    # the holder died -> stale lock is taken over and the update runs
    man = update_index_delta(spark, d, batch)
    assert man["num_docs"] == 41
    assert not os.path.exists(f"{d}/.update_lock")


def test_update_lock_cross_host_lease(tmp_path):
    """Cross-host lock records (where pids are meaningless) are
    governed by the heartbeat lease alone — no os.kill: a fresh lease
    blocks, an expired lease is taken over."""
    import os
    import time

    from partitioned_ef_ans_spark.index.checkpoint import (
        UpdateInProgress,
        _update_lock,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    lock = f"{d}/.update_lock"
    # a pid that IS alive locally but labeled with a foreign host:
    # the pid must be ignored, the fresh lease must block
    with open(lock, "w") as fh:
        fh.write(f"{os.getpid()} some-other-host 0.0")
    with pytest.raises(UpdateInProgress, match="lease from some-other-host"):
        with _update_lock(d):
            pass
    # lease expired (heartbeat mtime pushed past the ttl) -> takeover
    old = time.time() - 3600
    os.utime(lock, (old, old))
    with _update_lock(d) as lk:
        rec = open(lock).read().split()
        assert int(rec[0]) == os.getpid()  # content atomic with create
        assert len(rec) == 4  # pid host acquired_ts uuid-token
        assert lk._hb_thread.is_alive()  # heartbeat keeps the lease fresh
    assert not os.path.exists(lock)


def test_update_lock_empty_record_never_deleted_while_fresh(tmp_path):
    """An empty lock file with a fresh mtime is a writer mid-create on
    a non-link filesystem: treated ALIVE (blocked), not deleted; once
    it ages past the ttl it is reclaimable."""
    import os
    import time

    from partitioned_ef_ans_spark.index.checkpoint import (
        UpdateInProgress,
        _update_lock,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    lock = f"{d}/.update_lock"
    open(lock, "w").close()
    with pytest.raises(UpdateInProgress, match="mid-create"):
        with _update_lock(d):
            pass
    assert os.path.exists(lock)  # the live writer's file was NOT removed
    old = time.time() - 3600
    os.utime(lock, (old, old))
    with _update_lock(d):
        pass
    assert not os.path.exists(lock)


def test_incremental_update_rejects_stale_doc_ids(spark, tmp_path):
    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="pef",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    with pytest.raises(ValueError, match="fresh doc_ids"):
        update_index_delta(spark, d, _mk_docs(spark, [(5, "t000 collides")]))


def _corpus_delta(by_part, base=40, n=24):
    """Continuation of _corpus_a's generator at fresh doc ids — the
    same tf/gap/first-doc symbol distribution, so the frozen ANS
    models would also have covered it; per-segment models make that
    irrelevant, but a same-shaped batch keeps this test focused on the
    segment MECHANICS rather than model training."""
    rows = []
    for d in range(n):
        terms = []
        for p in range(NUM_PARTS):
            terms += [by_part[p][d % 5], by_part[p][(d * 3 + 1) % 5]]
        rows.append((base + d, " ".join(terms * (1 + d % 3))))
    return rows


def test_delta_update_rank_identical_and_o_batch(spark, tmp_path):
    """LSM delta-segment update: queries over base+delta segments are
    rank-identical to a full rebuild of the union, the base index
    parts' files are NOT rewritten (O(batch) — the whole point)."""
    import os

    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    base_mtimes = {
        p: os.path.getmtime(f"{d}/index.parquet/{p}")
        for p in os.listdir(f"{d}/index.parquet")
    }
    rows_b = _corpus_delta(by_part)
    m1 = update_index_delta(spark, d, _mk_docs(spark, rows_b))
    assert m1["delta_segments"] == 1  # really took the delta path
    assert os.path.isdir(f"{d}/index.parquet/part={NUM_PARTS}")
    for p, t in base_mtimes.items():  # O(batch): base parts untouched
        assert os.path.getmtime(f"{d}/index.parquet/{p}") == t

    full_dir = str(tmp_path / "full")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part) + rows_b),
        full_dir, codec="ans", num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    qs = [
        (0, [by_part[0][0], by_part[1][1]]),
        (1, [by_part[2][0]]),
        (2, [by_part[0][0], by_part[2][2], by_part[3][1]]),
    ]
    for mode in ("taat", "blockmax", "ranked_or", "wand"):
        assert _ranked(spark, d, qs, mode) == _ranked(spark, full_dir, qs, mode)
    assert _docpart(spark, d, qs) == _docpart(spark, full_dir, qs)


def test_mutation_refreshes_stale_cached_scans(spark, tmp_path):
    """A cached pre-update load_index frame must not alias the
    post-update reload: Spark's CacheManager matches parquet scans by
    canonicalized plan (path + schema), so without the mutators'
    refreshByPath guard a fresh spark.read.parquet(out_dir) issued
    AFTER update_index_delta is silently served from the stale cached
    relation and misses the delta segment entirely (found live in the
    decontam bench's post-delta leg: via-index 75 pairs vs scan 77)."""
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    index_df, _s, ts, _codec, _man = b_mod.load_index(spark, d)
    index_df = index_df.cache()
    ts = ts.cache()
    n_before = index_df.count()  # materialize the PRE-update caches
    t_before = ts.count()
    try:
        # the delta batch introduces a term the base vocabulary has
        # never seen — the failure mode is that term being invisible
        rows = _corpus_delta(by_part)
        rows[0] = (rows[0][0], rows[0][1] + " zzzfreshterm zzzfreshterm")
        fresh_doc = rows[0][0]
        m1 = update_index_delta(spark, d, _mk_docs(spark, rows))
        assert m1["delta_segments"] == 1
        index_df2, _s2, ts2, codec2, _man2 = b_mod.load_index(spark, d)
        # delta chunks must be visible despite the live stale cache
        assert index_df2.count() > n_before
        # the REFROZEN term_stats must carry the delta-only term: the
        # broken path read the stale cached index inside the sidecar
        # refresh and froze stats without any delta term
        assert ts2.count() > t_before
        assert ts2.where(F.col("term") == "zzzfreshterm").count() == 1
        # and the term-driven query path actually finds the delta doc
        from partitioned_ef_ans_spark.index import query as q_mod
        from partitioned_ef_ans_spark.operators.ranked import queries_to_df

        got = q_mod.run_boolean(
            spark, index_df2, queries_to_df(spark, [(0, ["zzzfreshterm"])]),
            codec2, True, term_stats_df=ts2,
        ).collect()
        assert [(r["query_id"], r["matches"]) for r in got] == [(0, 1)], (
            f"delta-only term invisible to the query path (doc "
            f"{fresh_doc} should match): {got}"
        )
    finally:
        index_df.unpersist()
        ts.unpersist()


def test_minor_compaction_folds_segments_only(spark, tmp_path):
    """compact_deltas (MINOR compaction): all live delta segments fold
    into one in O(live deltas) — base part payload files are the same
    inodes afterwards (never re-encoded), queries stay rank-identical,
    a single-segment index is a no-op, further delta updates continue
    at segment 2, and the major compaction still normalizes fully."""
    import os

    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        compact_deltas,
        compact_index,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    rows_all = []
    for i in range(3):
        rows = _corpus_delta(by_part, base=40 + 24 * i)
        rows_all += rows
        update_index_delta(spark, d, _mk_docs(spark, rows))

    def base_inodes():
        out = {}
        for p in range(NUM_PARTS):
            root = f"{d}/index.parquet/part={p}"
            out[p] = {
                (f, os.stat(os.path.join(root, f)).st_ino)
                for f in os.listdir(root) if f.endswith(".parquet")
            }
        return out

    before_inodes = base_inodes()
    qs = [
        (0, [by_part[0][0], by_part[1][1]]),
        (1, [by_part[2][0]]),
        (2, [by_part[0][0], by_part[2][2], by_part[3][1]]),
    ]
    before = {
        m: _ranked(spark, d, qs, m) for m in ("blockmax", "ranked_or", "taat")
    }
    before_dp = _docpart(spark, d, qs)

    man = compact_deltas(spark, d)
    assert man["delta_segments"] == 1
    assert man["folded_segments"] == 3
    assert base_inodes() == before_inodes  # O(deltas): base untouched
    pids = sorted(
        int(x.split("=")[1])
        for x in os.listdir(f"{d}/index.parquet") if x.startswith("part=")
    )
    assert pids == list(range(NUM_PARTS + 1))  # exactly one delta part
    for m, exp in before.items():
        assert _ranked(spark, d, qs, m) == exp, m
    assert _docpart(spark, d, qs) == before_dp

    man2 = compact_deltas(spark, d)  # single segment -> no-op
    assert man2["folded_segments"] == 0

    rows_c = _corpus_delta(by_part, base=40 + 72)
    m3 = update_index_delta(spark, d, _mk_docs(spark, rows_c))
    assert m3["delta_segments"] == 2

    compact_index(spark, d)
    full_dir = str(tmp_path / "full")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part) + rows_all + rows_c),
        full_dir, codec="ans", num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    assert _decode_flat_rows(spark, d) == _decode_flat_rows(spark, full_dir)


def test_delta_update_per_segment_models_absorb_drift(spark, tmp_path):
    """A delta batch whose symbol distribution the base models never
    saw (much longer docs, unseen tf/gap buckets) still lands as a
    SEGMENT: each delta trains its own ANS models, decode routes by
    the segment embedded in chunk_id — no fallback, exact decode, and
    chained drifted segments stack."""
    import pickle

    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )
    from partitioned_ef_ans_spark.tokenizer import term_frequencies, tokenize

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    rows_b = _corpus_b(by_part)  # much longer docs -> unseen symbols
    man = update_index_delta(spark, d, _mk_docs(spark, rows_b))
    assert man["delta_segments"] == 1
    side = pickle.load(open(f"{d}/models.pkl", "rb"))
    assert 1 in side["delta_models"]  # the segment carries its own models

    # a second, also-drifted segment on top
    rows_c = [(300 + j, " ".join(by_part[3][k % 6] for k in range(4)) * 12)
              for j in range(6)]
    man = update_index_delta(spark, d, _mk_docs(spark, rows_c))
    assert man["delta_segments"] == 2

    truth = {
        (r["term"], r["doc_id"], r["tf"])
        for r in term_frequencies(
            tokenize(_mk_docs(spark, _corpus_a(by_part) + rows_b + rows_c),
                     doc_col="doc_id", text_col="text")
        ).collect()
    }
    assert _decode_flat_rows(spark, d) == truth

    # ranked retrieval across three segments == full rebuild
    full_dir = str(tmp_path / "full")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part) + rows_b + rows_c),
        full_dir, codec="ans", num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    qs = [(0, [by_part[0][0], by_part[1][1]]), (1, [by_part[3][0]])]
    for mode in ("taat", "blockmax", "ranked_or"):
        assert _ranked(spark, d, qs, mode) == _ranked(spark, full_dir, qs, mode)
    assert _docpart(spark, d, qs) == _docpart(spark, full_dir, qs)


def test_delta_compaction_restores_single_segment_layout(spark, tmp_path):
    """compact_index folds deltas back: delta part dirs disappear from
    staging and index, bpp returns to a fresh rebuild's value, and
    queries stay rank-identical."""
    import os

    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        compact_index,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    rows_b = _corpus_delta(by_part)
    man_b = update_index_delta(spark, d, _mk_docs(spark, rows_b))
    assert man_b["delta_segments"] == 1  # really took the delta path
    man = compact_index(spark, d)
    assert man["delta_segments"] == 0
    assert not os.path.exists(f"{d}/index.parquet/part={NUM_PARTS}")
    assert not os.path.exists(f"{d}/staging_postings.parquet/part_id={NUM_PARTS}")

    full_dir = str(tmp_path / "full")
    fm = build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part) + rows_b), full_dir,
        codec="ans", num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    assert abs(man["bits_per_posting"] - fm["bits_per_posting"]) < 1e-9
    qs = [(0, [by_part[0][0], by_part[1][1]]), (1, [by_part[2][0]])]
    for mode in ("taat", "blockmax"):
        assert _ranked(spark, d, qs, mode) == _ranked(spark, full_dir, qs, mode)


def test_streaming_delta_mode_folds_segments(spark, tmp_path):
    """Every streamed micro-batch becomes an O(batch) delta segment
    (own models), retrieval across segments is rank-identical to a
    batch rebuild, and a later compaction folds everything back to the
    single-segment layout."""
    import json

    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        compact_index,
    )
    from partitioned_ef_ans_spark.streaming.index_update import (
        start_index_update_stream,
    )

    by_part = _vocab_by_part()
    rows_a = _corpus_a(by_part)
    rows_b = _corpus_b(by_part)
    rows_c = [(300, " ".join(by_part[2][:4] * 6))]
    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")

    build_index_resumable(
        spark, _mk_docs(spark, rows_a), inc_dir, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    for wave in (rows_b, rows_c):
        spark.createDataFrame(
            [(d, t) for d, t in wave], "doc_id long, content string"
        ).write.mode("append").parquet(inp)
        start_index_update_stream(spark, inp, inc_dir, ckpt)
    man = json.load(open(f"{inc_dir}/manifest.json"))
    assert man["delta_segments"] == 2

    build_index_resumable(
        spark, _mk_docs(spark, rows_a + rows_b + rows_c), full_dir,
        codec="ans", num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    qs = [(0, [by_part[2][0], by_part[0][0]]), (1, [by_part[2][2]])]
    for mode in ("blockmax", "taat"):
        assert _ranked(spark, inc_dir, qs, mode) == _ranked(
            spark, full_dir, qs, mode
        )
    man = compact_index(spark, inc_dir)
    assert man["delta_segments"] == 0
    for mode in ("blockmax", "taat"):
        assert _ranked(spark, inc_dir, qs, mode) == _ranked(
            spark, full_dir, qs, mode
        )

    # the tiered-merge policy plumbs through the stream sink: two more
    # waves with max_segments=1 leave ONE folded segment, not two
    rows_d = [(301, " ".join(by_part[1][:3] * 5))]
    rows_e = [(302, " ".join(by_part[3][:3] * 4))]
    for wave in (rows_d, rows_e):
        spark.createDataFrame(
            wave, "doc_id long, content string"
        ).write.mode("append").parquet(inp)
        start_index_update_stream(spark, inp, inc_dir, ckpt, max_segments=1)
    man = json.load(open(f"{inc_dir}/manifest.json"))
    assert man["delta_segments"] == 1
    assert man.get("minor_compactions", 0) >= 1


def test_update_lock_loss_detection_and_foreign_preservation(tmp_path):
    """Ownership is the record CONTENT (unique uuid token): a holder
    whose lock was taken over after a lease expiry must detect the
    loss via its heartbeat and must NOT delete the usurper's lock on
    exit."""
    import os
    import time

    from partitioned_ef_ans_spark.index.checkpoint import _update_lock

    d = str(tmp_path / "idx")
    os.makedirs(d)
    lock = f"{d}/.update_lock"
    lk = _update_lock(d, ttl=0.4)
    with lk:
        # simulate a lease-expiry takeover: the usurper's record
        # replaces ours under our feet
        with open(lock, "w") as fh:
            fh.write("9999999 usurper-host 1.0 deadbeef")
        deadline = time.time() + 5
        while not lk.lost and time.time() < deadline:
            time.sleep(0.05)
        assert lk.lost  # heartbeat noticed the foreign record
    # exit left the usurper's lock in place
    assert open(lock).read().startswith("9999999 ")


def test_update_lock_takeover_verifies_record_after_rename(tmp_path):
    """The stale-verdict and the claiming rename are not atomic: a
    contender acting on a stale read must detect (post-rename) that it
    buried a DIFFERENT record than the one it judged dead, restore it,
    and back off — never kill a fresh lock."""
    import os

    from partitioned_ef_ans_spark.index.checkpoint import (
        UpdateInProgress,
        _update_lock,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    lock = f"{d}/.update_lock"
    live_record = "424242 live-host 99.0 cafebabe"
    with open(lock, "w") as fh:
        fh.write(live_record)
    lk = _update_lock(d)
    # the contender's view is stale: it judged a record dead that is
    # no longer what the file holds
    lk._holder_state = lambda: (False, "pid 1 dead on this host", "1 h 0.0 aa")
    with pytest.raises(UpdateInProgress, match="lost the takeover race"):
        with lk:
            pass
    # the live lock survived the failed takeover attempts intact
    assert open(lock).read() == live_record


def test_delta_manifest_lag_never_reuses_segment(spark, tmp_path):
    """Crash window: a delta committed its doc stats but died before
    the manifest refresh, leaving ``delta_segments`` lagging.  The
    next delta must reconcile the counter from DISK and open a new
    segment (not overwrite the committed one); an all-stale replay
    re-arms the manifest."""
    import os

    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    rows_b = _corpus_delta(by_part)
    update_index_delta(spark, d, _mk_docs(spark, rows_b))

    def regress():
        with open(f"{d}/manifest.json") as fh:
            man = json.load(fh)
        man["delta_segments"] = 0
        with open(f"{d}/manifest.json", "w") as fh:
            json.dump(man, fh)

    regress()
    rows_c = _corpus_delta(by_part, base=200, n=8)
    m2 = update_index_delta(spark, d, _mk_docs(spark, rows_c))
    assert m2["delta_segments"] == 2  # disk-reconciled, segment 1 kept
    assert os.path.isdir(f"{d}/index.parquet/part={NUM_PARTS}")
    assert os.path.isdir(f"{d}/index.parquet/part={NUM_PARTS + 1}")

    # union equivalence proves the crashed-manifest segment survived
    full_dir = str(tmp_path / "full")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part) + rows_b + rows_c),
        full_dir, codec="ans", num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    qs = [(0, [by_part[0][0], by_part[1][1]]), (1, [by_part[2][0]])]
    assert _ranked(spark, d, qs, "blockmax") == _ranked(
        spark, full_dir, qs, "blockmax"
    )

    # all-stale replay through the recovery branch re-arms the counter
    regress()
    m3 = update_index_delta(
        spark, d, _mk_docs(spark, rows_c), skip_stale=True
    )
    assert m3["delta_segments"] == 2
    with open(f"{d}/manifest.json") as fh:
        assert json.load(fh)["delta_segments"] == 2


def test_delta_segment_limit_guard(spark, tmp_path):
    """chunk_id carries the segment in bits 20+ of an int32: segment
    2048 would wrap negative.  The guard fails loudly instead."""
    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    with open(f"{d}/manifest.json") as fh:
        man = json.load(fh)
    man["delta_segments"] = 2047
    with open(f"{d}/manifest.json", "w") as fh:
        json.dump(man, fh)
    with pytest.raises(RuntimeError, match="segment limit"):
        update_index_delta(spark, d, _mk_docs(spark, [(500, "t000 t001")]))


def test_compact_crash_safety(spark, tmp_path, monkeypatch):
    """Compaction builds the whole new state in scratch paths and
    commits via a journaled rename set.  A crash BEFORE the commit
    leaves the live delta-inclusive index fully intact; a crash AFTER
    the journal write rolls forward at the next locked op."""
    import os

    import partitioned_ef_ans_spark.index.checkpoint as cp

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    cp.build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    rows_b = _corpus_delta(by_part)
    cp.update_index_delta(spark, d, _mk_docs(spark, rows_b))
    qs = [(0, [by_part[0][0], by_part[1][1]]), (1, [by_part[2][0]])]
    pre = _ranked(spark, d, qs, "blockmax")

    # ---- crash BEFORE the journal: old state 100% live
    def boom(out_dir, pairs):
        raise RuntimeError("injected pre-commit crash")

    monkeypatch.setattr(cp, "_commit_renames", boom)
    with pytest.raises(RuntimeError, match="injected pre-commit"):
        cp.compact_index(spark, d)
    with open(f"{d}/manifest.json") as fh:
        assert json.load(fh)["delta_segments"] == 1  # still delta-live
    assert os.path.isdir(f"{d}/index.parquet/part={NUM_PARTS}")
    assert _ranked(spark, d, qs, "blockmax") == pre

    # ---- crash AFTER the journal write but before any rename: the
    # next locked maintenance op (or compact itself) rolls forward
    def crash_after_journal(out_dir, pairs):
        journal = f"{out_dir}/.commit_journal.json"
        with open(journal, "w") as fh:
            json.dump({"renames": [[s, t] for s, t in pairs]}, fh)
        raise RuntimeError("injected mid-commit crash")

    monkeypatch.setattr(cp, "_commit_renames", crash_after_journal)
    with pytest.raises(RuntimeError, match="injected mid-commit"):
        cp.compact_index(spark, d)
    monkeypatch.undo()
    assert os.path.exists(f"{d}/.commit_journal.json")
    cp._recover_commit(d)  # what every locked op runs first
    with open(f"{d}/manifest.json") as fh:
        man = json.load(fh)
    assert man["delta_segments"] == 0  # rolled FORWARD to compacted
    assert not os.path.isdir(f"{d}/index.parquet/part={NUM_PARTS}")
    assert not os.path.exists(f"{d}/.commit_journal.json")
    assert _ranked(spark, d, qs, "blockmax") == pre


def test_ef_delta_segments_per_segment_universes(spark, tmp_path):
    """EF-family delta updates are O(batch) too: each segment's
    payloads stay laid out against the docID universe at ITS encode
    time (``delta_universes`` pins — the same per-segment routing the
    concat merge uses), so a later update that GROWS the universe must
    not disturb earlier segments.  Sparse id jumps between batches
    make a universe mix-up decode garbage, not near-misses.  Minor
    compaction re-pins the folded segment at today's universe; major
    compaction re-encodes under one universe and drops every pin."""
    import os
    import pickle

    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        compact_deltas,
        compact_index,
        update_index_delta,
    )

    def unis(d):
        with open(f"{d}/models.pkl", "rb") as fh:
            return {
                int(k): int(v)
                for k, v in (pickle.load(fh).get("delta_universes") or {}).items()
            }

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="pef",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    u0 = json.load(open(f"{d}/manifest.json")).get("universe", 40)

    rows_b = _corpus_delta(by_part, base=100, n=12)   # universe -> 112
    rows_c = _corpus_delta(by_part, base=500, n=8)    # universe -> 508
    base_mtimes = {
        p: os.path.getmtime(f"{d}/index.parquet/{p}")
        for p in os.listdir(f"{d}/index.parquet")
    }
    m1 = update_index_delta(spark, d, _mk_docs(spark, rows_b))
    assert m1["delta_segments"] == 1  # really took the delta path
    m2 = update_index_delta(spark, d, _mk_docs(spark, rows_c))
    assert m2["delta_segments"] == 2
    assert m2["universe"] == 508
    for p, t in base_mtimes.items():  # O(batch): base parts untouched
        assert os.path.getmtime(f"{d}/index.parquet/{p}") == t
    assert unis(d) == {0: u0, 1: 112, 2: 508}

    full_dir = str(tmp_path / "full")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part) + rows_b + rows_c),
        full_dir, codec="pef", num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    qs = [
        (0, [by_part[0][0], by_part[1][1]]),
        (1, [by_part[2][0]]),
        (2, [by_part[0][0], by_part[2][2], by_part[3][1]]),
    ]
    assert _decode_flat_rows(spark, d) == _decode_flat_rows(spark, full_dir)
    for mode in ("taat", "ranked_or"):
        assert _ranked(spark, d, qs, mode) == _ranked(spark, full_dir, qs, mode)

    mm = compact_deltas(spark, d)  # fold keeps base pin, re-pins fold
    assert mm["folded_segments"] == 2
    assert unis(d) == {0: u0, 1: 508}
    assert _decode_flat_rows(spark, d) == _decode_flat_rows(spark, full_dir)
    for mode in ("taat", "ranked_or"):
        assert _ranked(spark, d, qs, mode) == _ranked(spark, full_dir, qs, mode)

    compact_index(spark, d)  # one universe again, pins dropped
    assert unis(d) == {}
    assert _decode_flat_rows(spark, d) == _decode_flat_rows(spark, full_dir)


def test_delta_tiered_merge_policy(spark, tmp_path):
    """max_segments (tiered-merge policy): update_index_delta folds
    the stack via the minor compaction as soon as the committed
    segment count exceeds the budget — bounded read amplification
    across an arbitrarily long update chain with no manual
    compaction scheduling — and stays rank- and decode-identical to
    a fresh build over the union corpus.  Below the budget nothing
    fires."""
    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    rows_all = []
    segs_after, auto_flags = [], []
    for i in range(4):
        rows = _corpus_delta(by_part, base=40 + 24 * i)
        rows_all += rows
        man = update_index_delta(
            spark, d, _mk_docs(spark, rows), max_segments=2
        )
        segs_after.append(int(man["delta_segments"]))
        auto_flags.append(bool(man.get("auto_minor_compacted")))
    # 1, 2 = under budget; 3rd update trips the policy (3 > 2 -> fold
    # to 1); 4th stacks on the folded segment
    assert segs_after == [1, 2, 1, 2]
    assert auto_flags == [False, False, True, False]

    qs = [
        (0, [by_part[0][0], by_part[1][1]]),
        (1, [by_part[2][0]]),
        (2, [by_part[0][0], by_part[2][2], by_part[3][1]]),
    ]
    full_dir = str(tmp_path / "full")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part) + rows_all), full_dir,
        codec="ans", num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    for m in ("blockmax", "ranked_or", "taat"):
        assert _ranked(spark, d, qs, m) == _ranked(spark, full_dir, qs, m), m


def test_minor_compact_crash_safety(spark, tmp_path, monkeypatch):
    """compact_deltas shares the journaled-commit protocol: a crash
    BEFORE the journal leaves the multi-segment state fully live
    (stale scratch is swept on the next run); a crash AFTER the
    journal write rolls forward to the folded state at the next
    locked op — and the fold is invisible to ranking either way."""
    import os

    import partitioned_ef_ans_spark.index.checkpoint as cp

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    cp.build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    for i in range(2):
        cp.update_index_delta(
            spark, d, _mk_docs(spark, _corpus_delta(by_part, base=40 + 24 * i))
        )
    qs = [(0, [by_part[0][0], by_part[1][1]]), (1, [by_part[2][0]])]
    pre = _ranked(spark, d, qs, "blockmax")

    def boom(out_dir, pairs):
        raise RuntimeError("injected pre-commit crash")

    monkeypatch.setattr(cp, "_commit_renames", boom)
    with pytest.raises(RuntimeError, match="injected pre-commit"):
        cp.compact_deltas(spark, d)
    with open(f"{d}/manifest.json") as fh:
        assert json.load(fh)["delta_segments"] == 2  # still stacked
    assert os.path.isdir(f"{d}/index.parquet/part={NUM_PARTS + 1}")
    assert _ranked(spark, d, qs, "blockmax") == pre

    def crash_after_journal(out_dir, pairs):
        journal = f"{out_dir}/.commit_journal.json"
        with open(journal, "w") as fh:
            json.dump({"renames": [[s, t] for s, t in pairs]}, fh)
        raise RuntimeError("injected mid-commit crash")

    monkeypatch.setattr(cp, "_commit_renames", crash_after_journal)
    with pytest.raises(RuntimeError, match="injected mid-commit"):
        cp.compact_deltas(spark, d)
    monkeypatch.undo()
    cp._recover_commit(d)  # what every locked op runs first
    with open(f"{d}/manifest.json") as fh:
        man = json.load(fh)
    assert man["delta_segments"] == 1  # rolled FORWARD to folded
    assert os.path.isdir(f"{d}/index.parquet/part={NUM_PARTS}")
    assert not os.path.isdir(f"{d}/index.parquet/part={NUM_PARTS + 1}")
    assert not os.path.exists(f"{d}/.commit_journal.json")
    assert _ranked(spark, d, qs, "blockmax") == pre


def _count_jobs(spark, group, fn):
    """(result, Spark jobs) of ``fn()``, counted under its own job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


#: Spark jobs one delta update may run, plain or folding (19 and 20
#: here; the re-tokenizing update that committed a segment and then
#: ran compact_deltas took 43 and 67 on this fixture)
UPDATE_JOB_BUDGET = 20


def test_delta_update_job_budget(spark, tmp_path):
    """One pass over the batch: a plain delta update and the folding
    one after it (max_segments=1, the fold written in-line) each stay
    within the job budget."""
    from partitioned_ef_ans_spark.index.checkpoint import (
        build_index_resumable,
        update_index_delta,
    )

    by_part = _vocab_by_part()
    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(by_part)), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    jobs = []
    for i in range(2):
        rows = _corpus_delta(by_part, base=40 + 24 * i)
        man, n = _count_jobs(
            spark, f"delta_update_{i}",
            lambda: update_index_delta(
                spark, d, _mk_docs(spark, rows), max_segments=1
            ),
        )
        jobs.append(n)
        assert bool(man.get("auto_minor_compacted")) == (i == 1)
    assert max(jobs) <= UPDATE_JOB_BUDGET, jobs


def _fold_state(spark, d):
    """Everything a fold commits, order-free: staging and index rows,
    doc and term stats, the segment models/universes, and the
    manifest's corpus scalars and size totals."""
    import pickle

    def rows(name):
        return sorted(
            tuple(r) for r in spark.read.parquet(f"{d}/{name}").collect()
        )

    with open(f"{d}/models.pkl", "rb") as fh:
        side = pickle.load(fh)
    with open(f"{d}/manifest.json") as fh:
        man = json.load(fh)
    keys = (
        "num_docs", "avg_doc_len", "universe", "delta_segments",
        "total_postings", "payload_bytes", "bits_per_posting",
    )
    return {
        "staging": rows("staging_postings.parquet"),
        "index": rows("index.parquet"),
        "doc_stats": rows("doc_stats.parquet"),
        "term_stats": rows("term_stats.parquet"),
        "models": pickle.dumps(
            (side.get("delta_models"), side.get("delta_universes"))
        ),
        "manifest": {k: man.get(k) for k in keys},
    }


@pytest.mark.parametrize("codec", ["ans", "pef"])
def test_inline_fold_matches_compact_deltas_and_is_crash_safe(
    spark, tmp_path, monkeypatch, codec
):
    """The fold written in-line by update_index_delta(max_segments=1)
    commits exactly what a plain update plus compact_deltas commits
    (same staging and index rows, models or EF universe pins, stats and
    ranking), and commits it once: a crash before the journal leaves
    the one-segment state live with the batch unserved and replays
    exactly; a crash after it rolls forward with the batch's stats,
    after which a skip_stale replay is a no-op."""
    import partitioned_ef_ans_spark.index.checkpoint as cp

    by_part = _vocab_by_part()
    dirs = {k: str(tmp_path / k) for k in ("inline", "twin", "crash")}
    for d in dirs.values():
        cp.build_index_resumable(
            spark, _mk_docs(spark, _corpus_a(by_part)), d, codec=codec,
            num_parts=NUM_PARTS, chunk_postings=CHUNK,
        )
    # sparse id jumps between batches: an EF universe mix-up decodes
    # garbage, not near-misses
    rows_b = _corpus_delta(by_part, base=100, n=12)
    rows_c = _corpus_delta(by_part, base=300, n=8)
    rows_d = _corpus_delta(by_part, base=500, n=6)
    qs = [
        (0, [by_part[0][0], by_part[1][1]]),
        (1, [by_part[2][0]]),
        (2, [by_part[0][0], by_part[2][2], by_part[3][1]]),
    ]

    inline, twin, crash = dirs["inline"], dirs["twin"], dirs["crash"]
    for d in (inline, crash):
        cp.update_index_delta(spark, d, _mk_docs(spark, rows_b), max_segments=1)
    man = cp.update_index_delta(
        spark, inline, _mk_docs(spark, rows_c), max_segments=1
    )
    assert man["auto_minor_compacted"] and man["delta_segments"] == 1
    cp.update_index_delta(spark, twin, _mk_docs(spark, rows_b))
    cp.update_index_delta(spark, twin, _mk_docs(spark, rows_c))
    assert cp.compact_deltas(spark, twin)["folded_segments"] == 2
    folded = _fold_state(spark, inline)
    assert folded == _fold_state(spark, twin)
    for mode in ("blockmax", "ranked_or"):
        assert _ranked(spark, inline, qs, mode) == _ranked(spark, twin, qs, mode)

    # ---- crash BEFORE the journal: one segment, batch unserved
    def boom(out_dir, pairs):
        raise RuntimeError("injected pre-commit crash")

    monkeypatch.setattr(cp, "_commit_renames", boom)
    with pytest.raises(RuntimeError, match="injected pre-commit"):
        cp.update_index_delta(
            spark, crash, _mk_docs(spark, rows_c), max_segments=1
        )
    monkeypatch.undo()
    with open(f"{crash}/manifest.json") as fh:
        assert json.load(fh)["delta_segments"] == 1
    ids_c = {r[0] for r in rows_c}
    stats_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{crash}/doc_stats.parquet").collect()
    }
    assert not ids_c & stats_ids
    assert not ids_c & {doc for _t, doc, _f in _decode_flat_rows(spark, crash)}
    # the replay of the same batch commits the first case's state
    cp.update_index_delta(spark, crash, _mk_docs(spark, rows_c), max_segments=1)
    assert _fold_state(spark, crash) == folded

    # ---- crash AFTER the journal: the next locked op rolls forward
    def crash_after_journal(out_dir, pairs):
        with open(f"{out_dir}/.commit_journal.json", "w") as fh:
            json.dump({"renames": [[s, t] for s, t in pairs]}, fh)
        raise RuntimeError("injected mid-commit crash")

    cp.update_index_delta(spark, inline, _mk_docs(spark, rows_d), max_segments=1)
    monkeypatch.setattr(cp, "_commit_renames", crash_after_journal)
    with pytest.raises(RuntimeError, match="injected mid-commit"):
        cp.update_index_delta(
            spark, crash, _mk_docs(spark, rows_d), max_segments=1
        )
    monkeypatch.undo()
    cp._recover_commit(crash)
    refolded = _fold_state(spark, inline)
    assert _fold_state(spark, crash) == refolded
    replay = cp.update_index_delta(
        spark, crash, _mk_docs(spark, rows_d), skip_stale=True, max_segments=1
    )
    assert replay["update_sec"] == 0.0
    assert _fold_state(spark, crash) == refolded
    assert _ranked(spark, crash, qs, "blockmax") == _ranked(
        spark, inline, qs, "blockmax"
    )


def test_refresh_path_tolerates_missing_path(spark, tmp_path):
    """Refreshing a path that does not exist is a no-op, not an error
    (the refresh runs unguarded: a failure there could freeze
    term_stats without the new segments)."""
    from partitioned_ef_ans_spark.index.checkpoint import _refresh_path

    _refresh_path(spark, str(tmp_path / "never_written"))


def test_segment_model_fanin_keeps_models(spark, tmp_path):
    """The delta segments' driver-side merge of the count partials
    (fanin=1) freezes the same models as the executor merge level the
    builds use, and both equal the build's frozen models."""
    import pickle

    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index.checkpoint import build_index_resumable

    d = str(tmp_path / "idx")
    build_index_resumable(
        spark, _mk_docs(spark, _corpus_a(_vocab_by_part())), d, codec="ans",
        num_parts=NUM_PARTS, chunk_postings=CHUNK,
    )
    staged = spark.read.parquet(f"{d}/staging_postings.parquet")
    with open(f"{d}/models.pkl", "rb") as fh:
        built = pickle.dumps(pickle.load(fh)["models"])
    assert pickle.dumps(b_mod.train_ans_models(staged)) == built
    assert pickle.dumps(b_mod.train_ans_models(staged, fanin=1)) == built
