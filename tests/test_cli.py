"""CLI surface parity (SURVEY.md §3): the reference's four
executables driven end-to-end through subprocesses, exactly the way a
spark-submit user would run them."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
ENV = {**os.environ, "SPARK_GRAFT_CPUS": "4", "PYTHONPATH": REPO}


def run_cli(*args, stdin=None, timeout=420):
    r = subprocess.run(
        [sys.executable, "-m", "partitioned_ef_ans_spark.cli", *args],
        input=stdin, capture_output=True, text=True, cwd=REPO, env=ENV,
        timeout=timeout,
    )
    assert r.returncode == 0, f"cli {args} failed:\n{r.stdout}\n{r.stderr}"
    return r.stdout


def run_cli_inproc(*args, stdin=None):
    """Drive ``cli.main()`` in-process, sharing the pytest
    SparkSession (cli._spark reuses the active session and _stop
    leaves it alive).  Same argv parsing, dispatch, and stdout
    contract as the subprocess path WITHOUT a fresh ~15 s JVM per
    invocation — the suite-runtime lever.  True-subprocess coverage
    stays in test_cli_pipeline_end_to_end /
    test_cli_package_and_spark_submit / the knob round-trip (env
    export is process-level semantics)."""
    import contextlib
    import io

    from partitioned_ef_ans_spark import cli

    old_stdin = sys.stdin
    sys.stdin = io.StringIO(stdin or "")
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            rc = cli.main([str(a) for a in args])
    finally:
        sys.stdin = old_stdin
    assert rc == 0, f"cli {args} failed:\n{buf.getvalue()}"
    return buf.getvalue()


def test_type_map_covers_all_16_reference_types():
    from partitioned_ef_ans_spark.cli import TYPE_MAP, resolve_type

    assert len(TYPE_MAP) == 16  # QS_INDEX_TYPES, index_types.hpp:57
    for ref_name, internal in TYPE_MAP.items():
        assert resolve_type(ref_name) == internal
        assert resolve_type(internal) == internal
    with pytest.raises(SystemExit):
        resolve_type("block_nope")


def test_cli_pipeline_end_to_end(tmp_path):
    """create_freq_index --check -> create_wand_data -> queries ->
    transform_queries, each as its own process (fresh JVM, like
    separate spark-submit invocations)."""
    idx = f"/dev/shm/pefa_cli_test_{os.getpid()}"
    shutil.rmtree(idx, ignore_errors=True)
    try:
        out = run_cli(
            "create_freq_index", "block_ansmsbmedmaxmerged",
            f"{SF}/documents.parquet", idx, "--check",
        )
        assert "collection built in" in out
        assert "check ok:" in out
        stats = json.loads([l for l in out.splitlines() if l.startswith("{")][0])
        assert stats["postings"] > 0 and stats["bits_per_posting"] > 0

        wand_out = str(tmp_path / "wand.parquet")
        out = run_cli("create_wand_data", idx, wand_out)
        assert "terms ->" in out
        import duckdb

        diff = duckdb.sql(
            f"""SELECT count(*) FROM (
                 SELECT * FROM '{wand_out}/*.parquet'
                 EXCEPT SELECT * FROM '{idx}/term_stats.parquet/*.parquet')"""
        ).fetchone()[0]
        assert diff == 0, "re-derived WAND sidecar differs from the frozen one"

        qtsv = "1\tdup spark\n2\tthe dup\n"
        out = run_cli("queries", idx, "--mode", "blockmax,taat",
                      "--print-topk", stdin=qtsv)
        recs = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
        assert {r["mode"] for r in recs} == {"blockmax", "taat"}
        topk = [l.split("\t") for l in out.splitlines()
                if l and not l.startswith("{")]
        assert topk and all(len(t) == 4 for t in topk)
        # both modes were printed from the same rank-identical engine;
        # the TSV block is the last mode's result set
        assert {t[0] for t in topk} == {"1", "2"}

        # storage-direct serving: same top-k, no gather shuffle
        # (same mode list: --print-topk emits one TSV block per mode)
        out = run_cli("queries", idx, "--mode", "blockmax,taat",
                      "--fetch", "direct", "--print-topk", stdin=qtsv)
        direct_topk = [l.split("\t") for l in out.splitlines()
                       if l and not l.startswith("{")]
        assert sorted(direct_topk) == sorted(topk)

        out = run_cli("queries", idx, "--mode", "blockmax,ranked_or",
                      "--latency", stdin=qtsv)
        recs = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
        assert {r["mode"] for r in recs} == {"blockmax", "ranked_or"}
        assert all(r["unit"] == "us" and r["q95"] >= r["q50"] for r in recs)

        # --latency --mode auto: the crossover resolver lives in the
        # run_ranked serving paths, not the kernel timer — must exit
        # with one clean line, not an uncaught traceback
        import contextlib
        import io

        from partitioned_ef_ans_spark import cli as cli_mod

        old_stdin, sys.stdin = sys.stdin, io.StringIO(qtsv)
        err = io.StringIO()
        try:
            with contextlib.redirect_stderr(err):
                rc = cli_mod.main(
                    ["queries", idx, "--mode", "auto", "--latency"]
                )
        finally:
            sys.stdin = old_stdin
        assert rc == 2 and "no mode 'auto'" in err.getvalue()

        out = run_cli("transform_queries", f"{SF}/documents.parquet",
                      stdin="dup spark\nzzz_not_a_term dup\n")
        lines = [l for l in out.splitlines() if l.strip()]
        # query 2 has an OOV token -> dropped whole (skip semantics);
        # query 1 emits a stemmed-id line + an unstemmed-id line
        assert len(lines) == 2
        assert all(all(tok.isdigit() for tok in l.split()) for l in lines)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_cli_resumable_build_then_update(spark, tmp_path):
    """create_freq_index --resumable -> update_index -> queries: the
    CLI maintenance flow end-to-end (the update writes a delta
    segment)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    idx = f"/dev/shm/pefa_cli_upd_{os.getpid()}"
    shutil.rmtree(idx, ignore_errors=True)
    try:
        run_cli_inproc("create_freq_index", "block_ansmsb", f"{SF}/documents.parquet",
                idx, "--resumable", "--num-parts", "4")
        new = str(tmp_path / "new.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array([1000, 1001], pa.int64()),
                "text": ["dup dup fresh spark join", "the dup table scan"],
            }),
            new,
        )
        out = run_cli_inproc("update_index", idx, new)
        rec = json.loads([l for l in out.splitlines() if l.startswith("{")][0])
        assert rec["num_docs"] == 502 and rec["delta_segments"] == 1

        out = run_cli_inproc("queries", idx, "--print-topk", stdin="1\tdup\n")
        topk = [l.split("\t") for l in out.splitlines()
                if l and not l.startswith("{")]
        docs = {int(t[2]) for t in topk}
        assert {1000, 1001} & docs, "updated docs missing from top-k"
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_cli_delete_then_compact(spark):
    """delete -> queries masks the tombstoned doc; --include-deleted
    restores the pre-delete view; compact folds physically and the doc
    stays gone with no sidecar."""
    idx = f"/dev/shm/pefa_cli_del_{os.getpid()}"
    shutil.rmtree(idx, ignore_errors=True)

    def topk(*extra):
        out = run_cli_inproc("queries", idx, "--print-topk", *extra,
                      stdin="1\tdup\n")
        return [
            l.split("\t") for l in out.splitlines()
            if l and not l.startswith("{")
        ]

    try:
        run_cli_inproc("create_freq_index", "block_ansmsb", f"{SF}/documents.parquet",
                idx, "--resumable", "--num-parts", "4")
        top_doc = int(topk()[0][2])

        out = run_cli_inproc("delete", idx, "--ids", str(top_doc))
        rec = json.loads([l for l in out.splitlines() if l.startswith("{")][0])
        assert rec["tombstones_total"] == 1

        masked = topk()
        assert masked and top_doc not in {int(t[2]) for t in masked}
        assert int(topk("--include-deleted")[0][2]) == top_doc

        run_cli_inproc("compact", idx)
        post = topk()
        assert post and top_doc not in {int(t[2]) for t in post}
        from partitioned_ef_ans_spark.index.checkpoint import load_tombstones

        assert load_tombstones(idx) is None  # sidecar reset at fold
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_cli_package_and_spark_submit(tmp_path):
    """The --py-files packaging story: build the zip, then run a real
    ``spark-submit --py-files pefa.zip cli.py`` (north_rule's cluster
    submission path; local master, identical launcher)."""
    zip_path = str(tmp_path / "pefa.zip")
    out = run_cli("package", "--out", zip_path)
    assert "wrote" in out and os.path.getsize(zip_path) > 10_000

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit binary not on PATH")
    idx = f"/dev/shm/pefa_cli_submit_{os.getpid()}"
    shutil.rmtree(idx, ignore_errors=True)
    try:
        r = subprocess.run(
            [spark_submit, "--master", "local[4]", "--py-files", zip_path,
             os.path.join(REPO, "partitioned_ef_ans_spark", "cli.py"),
             "create_freq_index", "opt", f"{SF}/documents.parquet", idx],
            capture_output=True, text=True, timeout=420,
            env={k: v for k, v in ENV.items() if k != "PYTHONPATH"},
        )
        assert r.returncode == 0, f"spark-submit failed:\n{r.stdout}\n{r.stderr}"
        assert "collection built in" in r.stdout
        assert os.path.exists(f"{idx}/manifest.json")
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_partition_knobs_change_dp_and_stay_decode_equal():
    """The DP knobs must actually steer the partition choice AND stay
    decode-safe (the stream is self-describing): a clustered-sparse
    list partitions differently under fix_cost 64 vs 1024 yet
    round-trips exactly under both.  (The CLI corpus fixtures have
    short dense lists where one partition is optimal under any knob —
    hence this unit-level sensitivity check.)"""
    import numpy as np

    from partitioned_ef_ans_spark.codecs import ef, pef

    rng = np.random.default_rng(1)
    u = 100_000
    docs = np.concatenate(
        [c * 15_000 + np.sort(rng.choice(2000, 300, replace=False))
         for c in range(6)]
    ).astype(np.int64)
    freqs = rng.integers(1, 5, len(docs)).astype(np.int64)
    got = {}
    orig = ef.FIX_COST
    try:
        for f in (64, 1024):
            ef.FIX_COST = f
            enc = pef.encode_lists([docs], [freqs], u)
            (d2, f2), = pef.decode_lists(enc, u)
            assert np.array_equal(d2, docs) and np.array_equal(f2, freqs)
            got[f] = (len(enc[0]), pef.partition_counts(enc)[0][1])
    finally:
        ef.FIX_COST = orig
    assert got[64][1] > got[1024][1], got  # higher fix cost -> coarser
    assert got[64][0] != got[1024][0]  # and a different encoding


def test_cli_partition_knobs_round_trip(tmp_path):
    """configuration.hpp's QS_EPS1/QS_EPS2/QS_FIXCOST knobs through
    CLI flags: the flags must export the env vars / set the effective
    config (echoed in the stats line) and a PEF build under
    non-default values must still pass the full --check decode."""
    idx_knob = f"/dev/shm/pefa_cli_knobs_alt_{os.getpid()}"
    shutil.rmtree(idx_knob, ignore_errors=True)
    try:
        out_k = run_cli(
            "create_freq_index", "opt", f"{SF}/documents.parquet", idx_knob,
            "--check", "--eps1", "0.01", "--eps2", "0.1",
            "--fix-cost", "1024",
        )
        assert "check ok:" in out_k  # decode-equal under non-default DP
        stats = json.loads(
            [l for l in out_k.splitlines() if l.startswith("{")][0]
        )
        assert (stats["eps1"], stats["eps2"], stats["fix_cost"]) == (
            0.01, 0.1, 1024,
        )
    finally:
        shutil.rmtree(idx_knob, ignore_errors=True)


def test_cli_sharded_queries_match_merged(spark, tmp_path):
    """`queries shardA,shardB` (scatter-gather with global stats) must
    print the exact top-k the concat-merged index prints."""
    import duckdb

    ca, cb = str(tmp_path / "ca.parquet"), str(tmp_path / "cb.parquet")
    con = duckdb.connect()
    mid = con.execute(
        f"SELECT median(doc_id) FROM '{SF}/documents.parquet'"
    ).fetchone()[0]
    con.execute(f"COPY (SELECT * FROM '{SF}/documents.parquet' WHERE "
                f"doc_id < {mid}) TO '{ca}' (FORMAT PARQUET)")
    con.execute(f"COPY (SELECT * FROM '{SF}/documents.parquet' WHERE "
                f"doc_id >= {mid}) TO '{cb}' (FORMAT PARQUET)")

    base = f"/dev/shm/pefa_cli_shard_{os.getpid()}"
    a, b, merged = f"{base}/a", f"{base}/b", f"{base}/m"
    shutil.rmtree(base, ignore_errors=True)
    try:
        run_cli_inproc("create_freq_index", "block_ansmsbmedmaxmerged", ca, a,
                "--resumable", "--num-parts", "4")
        run_cli_inproc("create_freq_index", "block_ansmsbmedmaxmerged", cb, b,
                "--resumable", "--num-parts", "4")
        run_cli_inproc("merge", merged, a, b, "--mode", "concat",
                "--num-parts", "4")

        qtsv = "1\tdup spark\n2\tthe dup data\n"

        def topk(index_arg, *extra):
            out = run_cli_inproc("queries", index_arg, "--mode",
                          "blockmax,ranked_or", "--print-topk", *extra,
                          stdin=qtsv)
            return sorted(
                tuple(l.split("\t")) for l in out.splitlines()
                if l and not l.startswith("{")
            )

        want = topk(merged)
        assert topk(f"{a},{b}") == want
        # composed 100TB shape: per-shard storage-direct reads under
        # the injected global statistics
        assert topk(f"{a},{b}", "--fetch", "direct") == want

        # filtered retrieval (--filter-ids-file, keep-mode mask): the
        # sharded path must serve the same filtered top-k as the
        # merged index
        ids = str(tmp_path / "keep.txt")
        with open(ids, "w") as fh:
            fh.write("".join(f"{i}\n" for i in range(0, 100000, 2)))
        fwant = topk(merged, "--filter-ids-file", ids)
        assert fwant and fwant != want
        assert topk(f"{a},{b}", "--filter-ids-file", ids) == fwant
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cli_facets_match_duckdb(spark, tmp_path):
    """`facets` — per-query facet counts over the boolean match set —
    against a DuckDB oracle that re-tokenizes the corpus."""
    import duckdb

    from partitioned_ef_ans_spark import tokenizer

    idx = f"/dev/shm/pefa_cli_facet_{os.getpid()}"
    shutil.rmtree(idx, ignore_errors=True)
    try:
        run_cli_inproc("create_freq_index", "block_ansmsbmedmaxmerged",
                f"{SF}/documents.parquet", idx)
        out = run_cli_inproc("facets", idx, "--meta", f"{SF}/documents.parquet",
                      "--facet-col", "lang", stdin="1\tdup spark\n2\tthe\n")
        got = {
            (int(q), f): int(m)
            for q, f, m in (l.split("\t") for l in out.splitlines() if l)
        }
        want = {}
        for qid, terms in ((1, ("dup", "spark")), (2, ("the",))):
            vals = ", ".join(f"('{t}')" for t in terms)
            for f, m in duckdb.sql(f"""
                WITH tok AS (
                  SELECT doc_id, unnest(regexp_split_to_array(lower(text),
                         '{tokenizer.DUCKDB_TOKEN_SPLIT}')) AS term
                  FROM '{SF}/documents.parquet'
                ),
                hits AS (
                  SELECT DISTINCT doc_id FROM tok
                  WHERE term IN (SELECT t FROM (VALUES {vals}) AS v(t))
                )
                SELECT d.lang, count(*) FROM hits h
                JOIN '{SF}/documents.parquet' d ON h.doc_id = d.doc_id
                GROUP BY d.lang
            """).fetchall():
                want[(qid, f)] = int(m)
        assert got == want
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_cli_phrase_index_and_search(spark, tmp_path):
    """create_freq_index --ngram 2 -> phrase (counts + --ranked): the
    CLI phrase flow, counts pinned against a DuckDB token-stream
    containment oracle."""
    import duckdb

    from partitioned_ef_ans_spark import tokenizer

    idx = f"/dev/shm/pefa_cli_phrase_{os.getpid()}"
    shutil.rmtree(idx, ignore_errors=True)
    try:
        out = run_cli_inproc("create_freq_index", "block_ansmsbmedmaxmerged",
                      f"{SF}/documents.parquet", idx, "--ngram", "2",
                      "--check")
        assert "check ok:" in out

        phrases = [(1, "order fast"), (2, "agg dup"), (3, "zz qq")]
        stdin = "".join(f"{q}\t{p}\n" for q, p in phrases)
        out = run_cli_inproc("phrase", idx, "--corpus", f"{SF}/documents.parquet",
                      stdin=stdin)
        got = {
            int(q): int(m)
            for q, m in (l.split("\t") for l in out.splitlines() if l)
        }
        want = {}
        for qid, p in phrases:
            n = duckdb.sql(f"""
                WITH arr AS (
                  SELECT doc_id,
                         list_filter(regexp_split_to_array(lower(text),
                                     '{tokenizer.DUCKDB_TOKEN_SPLIT}'),
                                     x -> x <> '') AS a
                  FROM '{SF}/documents.parquet'
                )
                SELECT count(*) FROM arr
                WHERE position(' {p} ' IN
                               ' ' || array_to_string(a, ' ') || ' ') > 0
            """).fetchone()[0]
            if n:
                want[qid] = int(n)
        assert got == want and got

        out = run_cli_inproc("phrase", idx, "--ranked", stdin="1\tagg dup\n")
        rows = [l.split("\t") for l in out.splitlines() if l]
        assert rows and all(len(r) == 4 for r in rows)
        assert [int(r[1]) for r in rows] == list(range(1, len(rows) + 1))
    finally:
        shutil.rmtree(idx, ignore_errors=True)
