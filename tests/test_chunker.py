"""Chunker golden + property tests.

Behavioral contract from the reference (repo_to_vector.py:256-306):
boundary snapping to newline/space, overlap carry, non-progress guard,
short-text passthrough. See sources/chunker.py docstring.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from converttovectordb_spark.sources.chunker import chunk_embed, chunk_string


def test_empty_text():
    assert chunk_string("") == []


def test_short_text_passthrough():
    assert chunk_string("hello", 1000, 200) == ["hello"]
    t = "x" * 1000
    assert chunk_string(t, 1000, 200) == [t]


def test_newline_snap():
    # newline after the midpoint → cut one past the newline
    text = "a" * 600 + "\n" + "b" * 600
    chunks = chunk_string(text, 1000, 200)
    assert chunks[0] == "a" * 600 + "\n"
    assert chunks[0][-1] == "\n"


def test_newline_before_midpoint_ignored_space_used():
    # newline at 300 (< midpoint 500) is ignored; last space in
    # [500, 1000) is the cut
    text = "a" * 300 + "\n" + "b" * 400 + " " + "c" * 600
    chunks = chunk_string(text, 1000, 200)
    assert chunks[0].endswith(" ")
    assert chunks[0] == "a" * 300 + "\n" + "b" * 400 + " "


def test_no_breakpoint_hard_cut():
    text = "x" * 2500
    chunks = chunk_string(text, 1000, 200)
    assert chunks[0] == "x" * 1000
    # next starts at 800 (end - overlap)
    assert chunks[1] == "x" * 1000
    assert "".join(c[:-0 or None] for c in chunks)  # non-empty chunks


def test_overlap_carry():
    text = "x" * 1000 + "y" * 1000
    chunks = chunk_string(text, 1000, 200)
    # second chunk begins with the last 200 chars of the first
    assert chunks[1][:200] == chunks[0][-200:]


@given(st.text(alphabet="ab \n", min_size=0, max_size=5000))
@settings(max_examples=60, deadline=None)
def test_property_coverage_and_bounds(text):
    chunks = chunk_string(text, 100, 20)
    if not text:
        assert chunks == []
        return
    # every chunk within size bound
    assert all(len(c) <= 100 for c in chunks)
    # full coverage: concatenating with overlap removed reproduces text
    reassembled = chunks[0] if chunks else ""
    pos = len(chunks[0]) if chunks else 0
    for c in chunks[1:]:
        # find where this chunk continues the text
        overlap = pos - text.index(c, max(0, pos - len(c)))
        reassembled += c[overlap:]
        pos += len(c) - overlap
    assert reassembled == text


def test_chunk_embed_indexes(spark):
    df = spark.createDataFrame(
        [("a.py", "x" * 2500), ("b.py", "short")], ["path", "content"]
    )
    out = chunk_embed(df, chunk_size=1000, overlap=200, dim=8).collect()
    by_path = {}
    for r in out:
        by_path.setdefault(r.path, []).append(r)
    a = sorted(by_path["a.py"], key=lambda r: r.chunk_index)
    assert [r.chunk_index for r in a] == list(range(len(a)))
    assert all(r.total_chunks == len(a) for r in a)
    b = by_path["b.py"]
    assert len(b) == 1 and b[0].content == "short" and b[0].total_chunks == 1


def test_chunk_fixed_expr_strides(spark):
    from pyspark.sql import functions as F

    from converttovectordb_spark.sources.chunker import chunk_fixed_expr

    df = spark.createDataFrame(
        [("", ), ("x" * 100, ), ("a" * 1000, )], ["text"]
    )
    out = df.select(
        chunk_fixed_expr(F.col("text"), chunk_size=500, overlap=100).alias("c")
    ).collect()
    assert out[0]["c"] == []                      # empty text -> no chunks
    assert out[1]["c"] == ["x" * 100]             # short text -> one chunk
    chunks = out[2]["c"]                          # stride 400: starts 1,401,801
    assert [len(c) for c in chunks] == [500, 500, 200]
    # overlap: each chunk after the first repeats the prior 100 chars
    assert chunks[1][:100] == chunks[0][-100:]
