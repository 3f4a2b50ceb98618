"""Persisted BM25 inverted index (plans/lex_index.py).

Contract under test: float-level score parity with the brute
`bm25_scores` (same df/idf/avgdl definitions, token-less docs counted
in the corpus stats), driver-side bucket derivation that matches the
plan-side crc32 exactly, directory-level partition pruning to the
query terms' buckets, and the empty/unknown-term edges.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.operators.search import bm25_scores
from converttovectordb_spark.plans.lex_index import (
    DEFAULT_BUCKETS,
    LexicalIndex,
    build_lexical_index,
    term_bucket,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (0, "spark shuffles data across the cluster"),
            (1, "watermarks bound streaming state"),
            (2, "spark streaming state lives in the state store"),
            (3, "a totally unrelated document about cats"),
            (4, ""),  # token-less doc: counts in n_docs/avgdl only
            (5, "spark spark spark join scan vector"),
        ],
        "doc_id int, text string",
    )


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    return build_lexical_index(
        corpus,
        str(tmp_path_factory.mktemp("lex") / "idx"),
        id_col="doc_id",
        text_col="text",
        n_buckets=8,
    )


def test_scores_match_brute_bm25(spark, corpus, index):
    for terms in (
        ["spark", "state"],
        ["streaming"],
        ["spark", "spark", "cats"],  # dup terms: set semantics
    ):
        want = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores(
                corpus, terms, id_col="doc_id", text_col="text"
            ).collect()
        }
        got = {
            r["doc_id"]: r["bm25"] for r in index.bm25(terms).collect()
        }
        assert set(got) == set(want), terms
        for d in want:
            assert abs(got[d] - want[d]) < 1e-9


def test_meta_counts_tokenless_docs(index):
    meta = index.meta()
    assert meta["n_docs"] == 6  # the empty doc counts
    # avgdl averages over ALL six docs, including the zero-length one
    assert meta["avgdl"] == pytest.approx((6 + 4 + 8 + 6 + 0 + 6) / 6)


def test_driver_bucket_matches_plan_bucket(spark):
    terms = ["spark", "état", "join", "x" * 50, "", "ümlaut"]
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select(
            "term",
            F.pmod(F.crc32(F.col("term")), F.lit(DEFAULT_BUCKETS))
            .cast("int")
            .alias("b"),
        )
        .collect()
    )
    for r in rows:
        assert term_bucket(r["term"], DEFAULT_BUCKETS) == r["b"]


def test_query_prunes_to_term_buckets(spark, index):
    from converttovectordb_spark.plans.bucketing import physical_plan

    plan = physical_plan(index.bm25(["spark"]))
    b = term_bucket("spark", 8)
    assert "PartitionFilters: [" in plan
    part = plan.split("PartitionFilters:")[1].split("]")[0]
    # the IN-list on the partition column carries exactly our bucket
    assert "bucket" in part and str(b) in part


def test_empty_and_unknown_terms(spark, index):
    assert index.bm25([]).count() == 0
    assert index.bm25(["zzz_nowhere"]).count() == 0


def test_lowercase_contract(spark, corpus, tmp_path):
    idx = build_lexical_index(
        corpus,
        str(tmp_path / "lower"),
        id_col="doc_id",
        text_col="text",
        n_buckets=8,
        lowercase=True,
    )
    want = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(
            corpus,
            ["SPARK"],
            id_col="doc_id",
            text_col="text",
            lowercase=True,
        ).collect()
    }
    got = {r["doc_id"]: r["bm25"] for r in idx.bm25(["SPARK"]).collect()}
    assert set(got) == set(want) and len(got) > 0
    for d in want:
        assert abs(got[d] - want[d]) < 1e-9


def test_append_matches_rebuilt_scores(spark, corpus, tmp_path):
    """r12: incremental append == full rebuild, to the float — df
    derives from the postings at query time, n_docs/total_dl update by
    integer arithmetic, token-less delta docs count in the stats."""
    half = corpus.filter(F.col("doc_id") < 3)
    rest = corpus.filter(F.col("doc_id") >= 3)
    grown = build_lexical_index(
        half, str(tmp_path / "grown"), id_col="doc_id",
        text_col="text", n_buckets=8,
    )
    assert grown.append(rest, text_col="text") == 3
    full = build_lexical_index(
        corpus, str(tmp_path / "full"), id_col="doc_id",
        text_col="text", n_buckets=8,
    )
    assert grown.meta()["n_docs"] == full.meta()["n_docs"] == 6
    assert grown.meta()["total_dl"] == full.meta()["total_dl"]
    for terms in (["spark", "state"], ["cats"], ["join", "vector"]):
        want = {
            r["doc_id"]: r["bm25"] for r in full.bm25(terms).collect()
        }
        got = {
            r["doc_id"]: r["bm25"] for r in grown.bm25(terms).collect()
        }
        assert set(got) == set(want), terms
        for d in want:
            assert abs(got[d] - want[d]) < 1e-9
    # empty delta is a no-op
    assert grown.append(rest.limit(0), text_col="text") == 0


@pytest.mark.slow  # 6.8s
def test_engine_heal_and_orphan_contract(spark, tmp_path):
    """append_to_lex_index heals store growth to freshness (token
    earned, searches resolve without a rebuild); store deletions make
    the heal raise for a rebuild."""
    import pytest as _pytest

    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.md").write_text("alpha vector corpus document " * 10)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(16),
        dim=16,
    )
    eng.ingest(str(repo))
    eng.build_lex_index()
    (repo / "b.md").write_text("beta arrival vector " * 10)
    eng.ingest(str(repo))
    with _pytest.raises(RuntimeError, match="stale"):
        eng.search_hybrid("vector", use_lex_index=True)
    added = eng.append_to_lex_index()
    assert added >= 1
    rows = eng.search_hybrid("beta", use_lex_index=True).collect()
    assert any("b.md" in r["path"] for r in rows)
    # idempotent: nothing new → 0 rows, token stays fresh
    assert eng.append_to_lex_index() == 0
    # deletions cannot be healed by appending: clear, then re-ingest a
    # repo that lacks the previously indexed docs → orphaned postings
    eng.clear(backup=False)
    repo2 = tmp_path / "repo2"
    repo2.mkdir()
    (repo2 / "c.md").write_text("gamma only now")
    eng.ingest(str(repo2))
    with _pytest.raises(RuntimeError, match="rebuild"):
        eng.append_to_lex_index()


def test_compact_folds_append_debt_content_neutral(spark, corpus, tmp_path):
    """r12: compact() folds the per-append small files into one file
    per bucket + a coalesced doclens, leaves every score and the
    manifest untouched, and sweeps its own crash debris."""
    import os as _os

    idx = build_lexical_index(
        corpus.filter(F.col("doc_id") < 2),
        str(tmp_path / "idx"),
        id_col="doc_id",
        text_col="text",
        n_buckets=8,
    )
    for lo in (2, 3, 4, 5):
        idx.append(
            corpus.filter(F.col("doc_id") == lo), text_col="text"
        )
    debt = idx.append_debt()
    want = {
        r["doc_id"]: r["bm25"]
        for r in idx.bm25(["spark", "state"]).collect()
    }
    meta_before = idx.meta()
    # plant crash debris from a hypothetical killed swap
    _os.makedirs(_os.path.join(idx.path, "tmp-deadbeef"))
    _os.makedirs(_os.path.join(idx.path, "postings.old.cafe"))
    assert idx.compact() > 0
    assert idx.append_debt() < debt
    names = set(_os.listdir(idx.path))
    assert not any(n.startswith("tmp-") for n in names)
    assert not any(".old." in n for n in names)
    # row content + exact stats untouched; the hot-term registry is
    # the ONE meta field compaction refreshes (r13 verdict #3)
    meta_after = idx.meta()
    assert {k: v for k, v in meta_after.items() if k != "hot_df"} == {
        k: v for k, v in meta_before.items() if k != "hot_df"
    }
    got = {
        r["doc_id"]: r["bm25"]
        for r in idx.bm25(["spark", "state"]).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d] - want[d]) < 1e-12


def test_torn_append_detected_not_blessed(spark, corpus, tmp_path):
    """A maintenance crash between the doclens write and the manifest
    commit must surface as 'torn / rebuild' at the next heal — NOT be
    silently blessed. (Pre-fix behavior: the heal's anti-join saw the
    crashed rows already in doclens, found nothing missing, and earned
    a fresh token over permanently-missing postings and stale stats.)"""
    import os as _os

    from converttovectordb_spark.plans.lex_index import DOCLENS_SUBDIR

    idx = build_lexical_index(
        corpus.filter(F.col("doc_id") < 4),
        str(tmp_path / "idx"),
        id_col="doc_id",
        text_col="text",
        n_buckets=8,
    )
    # simulate the torn window: the doclens rows of an append landed,
    # postings and manifest did not
    spark.createDataFrame(
        [(99, 3)], "doc_id int, dl bigint"
    ).write.mode("append").parquet(
        _os.path.join(idx.path, DOCLENS_SUBDIR)
    )
    with pytest.raises(RuntimeError, match="torn"):
        idx.verify_integrity()


def test_crashed_compact_swap_recovers(spark, corpus, tmp_path):
    """A compact killed between its two renames (data dir absent, the
    complete pre-swap copy parked at <sub>.old.<hex>): the read path
    raises the documented recovery error instead of a mid-query
    AnalysisException, maintenance RESTORES the copy (never sweeps the
    only surviving rows), and scores afterwards equal the pre-crash
    ones."""
    import os as _os
    import shutil as _shutil

    from converttovectordb_spark.plans.lex_index import POSTINGS_SUBDIR

    idx = build_lexical_index(
        corpus,
        str(tmp_path / "idx2"),
        id_col="doc_id",
        text_col="text",
        n_buckets=8,
    )
    want = {
        r["doc_id"]: r["bm25"]
        for r in idx.bm25(["spark", "state"]).collect()
    }
    post = _os.path.join(idx.path, POSTINGS_SUBDIR)
    _os.rename(post, post + ".old.feedface")  # the crash window
    # maintenance path: verify_integrity restores the parked copy
    idx.verify_integrity()
    assert _os.path.isdir(post)
    got = {
        r["doc_id"]: r["bm25"]
        for r in idx.bm25(["spark", "state"]).collect()
    }
    assert got == want
    # ambiguous (two .old. copies) → raise for a rebuild, never guess
    _os.rename(post, post + ".old.aaaa")
    _shutil.copytree(post + ".old.aaaa", post + ".old.bbbb")
    with pytest.raises(RuntimeError, match="rebuild"):
        idx.verify_integrity()


def test_read_path_raises_clean_error_on_missing_dir(spark, tmp_path):
    """_require_lex_index: a valid _TOKEN over a missing data dir (the
    crashed-swap state) raises the recovery message, and
    append_to_lex_index() actually recovers it end-to-end."""
    import os as _os

    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.plans.lex_index import POSTINGS_SUBDIR

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.md").write_text("alpha vector corpus document " * 10)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(16),
        dim=16,
    )
    eng.ingest(str(repo))
    eng.build_lex_index()
    lex_path = f"{eng.store.path}_lexidx"
    post = _os.path.join(lex_path, POSTINGS_SUBDIR)
    _os.rename(post, post + ".old.cafe")
    with pytest.raises(RuntimeError, match="missing"):
        eng.search_hybrid("vector", use_lex_index=True)
    assert eng.append_to_lex_index() == 0  # recovers, nothing to add
    rows = eng.search_hybrid("vector", use_lex_index=True).collect()
    assert rows


@pytest.mark.slow  # 6.0s
def test_heal_detects_content_change(spark, tmp_path):
    """r12 review: a rid-only heal was blind to a content CHANGE under
    an existing path#chunk_index — it no-op'd, earned a fresh token,
    and BM25 served the old file's postings forever. The heal now keys
    freshness on (rid, chash) and raises for a rebuild."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.md").write_text("original searchable words " * 10)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(16),
        dim=16,
    )
    eng.ingest(str(repo))
    eng.build_lex_index()
    # re-crawl with CHANGED content under the same path/chunk ids
    (repo / "a.md").write_text("replacement different terms " * 10)
    eng.ingest(str(repo))
    with pytest.raises(RuntimeError, match="rebuild"):
        eng.append_to_lex_index()
    # rebuild restores correctness: the new terms hit, the old don't
    eng.build_lex_index()
    hits = eng.search_hybrid("replacement", use_lex_index=True).collect()
    assert hits


def test_hot_term_registry_and_elision_dial(spark, tmp_path):
    """r13: hot-term registry + max_df_frac elision. The registry
    records build-time df for dominant terms; the dial drops them
    driver-side (their buckets never probed); df stays additive across
    appends; default (no dial) scoring is untouched."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from converttovectordb_spark.plans.lex_index import (
        build_lexical_index,
    )

    rows = [(i, f"the quick doc {i} " + ("rare" if i == 0 else "common"))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    idx = build_lexical_index(
        docs, str(tmp_path / "lex"), lowercase=True
    )
    hot = idx.meta()["hot_df"]
    # 'the'/'quick'/'doc'/'common' are in ≥97% of docs; 'rare' in 1
    assert hot["the"] == 40 and hot["common"] == 39
    assert "rare" not in hot

    # default: every term scores (oracle semantics untouched)
    full = {r["doc_id"]: r["bm25"]
            for r in idx.bm25(["the", "rare"]).collect()}
    assert len(full) == 40  # 'the' matches everything

    # dial on: 'the' (df=100%) elided; only 'rare' scores
    pruned = idx.bm25(["the", "rare"], max_df_frac=0.5).collect()
    assert [r["doc_id"] for r in pruned] == [0]
    # and the surviving term's score equals its single-term score
    solo = idx.bm25(["rare"]).collect()
    assert pruned[0]["bm25"] == solo[0]["bm25"]

    # all terms hot → typed empty frame, no probe
    assert idx.bm25(["the", "common"], max_df_frac=0.5).count() == 0

    # append keeps registered df exact
    more = spark.createDataFrame(
        [(100 + i, f"the extra doc {i}") for i in range(10)],
        "doc_id bigint, text string",
    )
    idx.append(more)
    hot2 = idx.meta()["hot_df"]
    assert hot2["the"] == 50
    assert hot2["common"] == 39  # untouched by a batch without it

    with _pytest.raises(ValueError, match="max_df_frac"):
        idx.bm25(["x"], max_df_frac=0.0)


@pytest.mark.slow  # 6.3s
def test_engine_append_postings_survive_cache_invalidation(spark, tmp_path):
    """r13 regression (staging.py): the engine's heal delta anti-joins
    the store against the DOCLENS path; the r12 append persisted that
    lineage and then APPENDED to doclens, which invalidated the cache —
    the postings action re-executed the anti-join against the grown
    doclens, found nothing, and silently wrote NO postings (doclens +
    meta stayed consistent, so verify_integrity was blind and the
    freshness token was earned over the hole). The staged append must
    leave the batch's terms retrievable — and no stage debris."""
    import os

    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.plans.lex_index import LexicalIndex

    dim = 8

    def mkdocs(tag, text, n=6):
        v = [[1.0] * dim] * n
        return spark.createDataFrame(
            [(f"{tag}/f{j}.txt", ".txt", 0, 1, f"{text} {j}", v[j], 0.0)
             for j in range(n)],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<float>, "
            "timestamp double",
        )

    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(dim),
        dim=dim, transactional=True,
    )
    eng.store.append(mkdocs("base", "alpha beta gamma"))
    eng.build_lex_index()
    eng.store.append(mkdocs("grow", "zebra xylophone"))
    assert eng.append_to_lex_index() == 6
    idx = LexicalIndex(spark, f"{eng.store.path}_lexidx")
    assert idx.bm25(["zebra"]).count() == 6
    assert idx.doclens().count() == 12
    assert idx.meta()["n_docs"] == 12
    idx.verify_integrity()  # still self-consistent
    assert not [
        n for n in os.listdir(idx.path) if n.startswith("tmp-stage-")
    ]


@pytest.mark.slow  # 9.8s
def test_compaction_registers_append_crossed_hot_terms(spark, tmp_path):
    """r13 verdict #3: a term that crosses the hot threshold purely
    through appends is elision-invisible (its bucket still probed;
    the post-read df filter keeps scoring consistent) until
    compaction, which re-derives the registry with the build's exact
    rule — after it the dialed plan's PartitionFilters no longer
    carry the term's bucket."""
    from converttovectordb_spark.plans.bucketing import physical_plan
    from converttovectordb_spark.plans.lex_index import (
        build_lexical_index,
        term_bucket,
    )

    # build: 'flood' in 1 of 20 docs (cold); appends push it into
    # 21 of 40 (>1% and df>=2 → hot by the build rule)
    docs = spark.createDataFrame(
        [(i, f"base doc {i} " + ("flood" if i == 0 else "calm"))
         for i in range(20)],
        "doc_id bigint, text string",
    )
    idx = build_lexical_index(
        docs, str(tmp_path / "lex"), lowercase=True, n_buckets=8
    )
    assert "flood" not in idx.meta()["hot_df"]
    more = spark.createDataFrame(
        [(100 + i, f"extra doc {i} flood") for i in range(20)],
        "doc_id bigint, text string",
    )
    idx.append(more)
    b = term_bucket("flood", 8)

    def probed_buckets():
        # 'calm' (df 19/40 = 0.475) stays under the 0.5 dial, so the
        # probe always reads ITS bucket (0) — the assertion is about
        # whether 'flood''s bucket (7) rides along. Parse the literal
        # bucket values out of the PartitionFilters ("= N" / "IN (..)"
        # forms; attribute ids like bucket#487 must not fool it).
        import re as _re

        plan = physical_plan(
            idx.bm25(["flood", "calm"], max_df_frac=0.5)
        )
        part = plan.split("PartitionFilters:")[1].split("]")[0]
        vals = set()
        for m in _re.finditer(r"= (\d+)\)", part):
            vals.add(int(m.group(1)))
        for m in _re.finditer(r"IN \(([\d,]+)\)", part):
            vals.update(int(x) for x in m.group(1).split(","))
        return vals

    # pre-compaction: unregistered → the bucket IS probed, but the
    # post-read df filter still drops the term from scoring (40 docs,
    # df=21 > 0.5*40)
    assert probed_buckets() == {0, b}
    assert idx.bm25(["flood"], max_df_frac=0.5).count() == 0

    idx.compact()
    hot = idx.meta()["hot_df"]
    assert hot["flood"] == 21  # exact df, the build rule's value
    assert hot["calm"] == 19   # re-derived for the whole vocabulary
    # post-compaction: elided DRIVER-side — the bucket never probed
    assert probed_buckets() == {0}
    # undialed scoring is untouched by registration
    assert idx.bm25(["flood"]).count() == 21
