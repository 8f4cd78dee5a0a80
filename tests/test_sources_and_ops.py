"""Binary-collection exchange format and query-file reader."""

from __future__ import annotations

import numpy as np

from partitioned_ef_ans_spark.sources import binary_collection as bc


def test_binary_collection_roundtrip(spark, tmp_path):
    rng = np.random.default_rng(11)
    num_docs = 300
    rows = []
    for _ in range(40):
        n = int(rng.integers(1, 60))
        docs = np.sort(rng.choice(num_docs, n, replace=False))
        freqs = rng.integers(1, 9, n)
        rows.append((docs, freqs))
    sizes = rng.integers(1, 500, num_docs)
    base = str(tmp_path / "coll")
    bc.write_collection(rows, sizes, num_docs, base)
    postings, sizes_df, nd = bc.read_collection(spark, base)
    assert nd == num_docs
    got = {r["term_id"]: (r["doc_ids"], r["freqs"]) for r in postings.collect()}
    for t, (d, f) in enumerate(rows):
        assert got[t][0] == d.tolist()
        assert got[t][1] == f.tolist()
    assert sizes_df.count() == num_docs


def test_query_file_reader(spark, tmp_path):
    p = tmp_path / "queries.txt"
    p.write_text("1 2 3\n\n10278\t90269\t96541\n7\n")
    qdf = bc.read_queries_file(spark, str(p)).orderBy("query_id").collect()
    assert [r["term_ids"] for r in qdf] == [[1, 2, 3], [], [10278, 90269, 96541], [7]]

