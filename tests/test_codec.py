import hypothesis.strategies as st
from hypothesis import given, settings

from google_spark.functions.codec import (
    block_metadata,
    decode_postings,
    encode_postings,
    merge_postings,
)


def test_round_trip_hand_fixture():
    doc_ids = [3, 17, 1000000007]
    tfs = [2, 1, 9]
    dls = [10, 55, 400]
    positions = [[1, 7], [3], [2, 4, 8, 16, 32, 64, 128, 256, 512]]
    blob = encode_postings(doc_ids, tfs, dls, positions)
    assert decode_postings(blob) == (doc_ids, tfs, dls, positions)


def test_empty():
    blob = encode_postings([], [], [], [])
    assert decode_postings(blob) == ([], [], [], [])


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**62),
            st.integers(min_value=1, max_value=10000),
            st.integers(min_value=1, max_value=100000),
            st.lists(st.integers(min_value=1, max_value=1000), min_size=0, max_size=20),
        ),
        max_size=50,
    )
)
def test_round_trip_property(entries):
    # unique ascending doc_ids; ascending positions
    seen = {}
    for doc, tf, dl, pos in entries:
        seen[doc] = (tf, dl, sorted(set(pos)))
    doc_ids = sorted(seen)
    tfs = [seen[d][0] for d in doc_ids]
    dls = [seen[d][1] for d in doc_ids]
    positions = [seen[d][2] for d in doc_ids]
    blob = encode_postings(doc_ids, tfs, dls, positions)
    assert decode_postings(blob) == (doc_ids, tfs, dls, positions)


def test_block_metadata():
    doc_ids = list(range(1, 301))
    tfs = [1] * 300
    tfs[5] = 9  # block 0 max
    tfs[200] = 7  # block 1 max
    dls = [100] * 300
    dls[130] = 3  # block 1 min
    blocks = block_metadata(doc_ids, tfs, dls, block_size=128)
    assert blocks == [(128, 9, 100), (256, 7, 3), (300, 1, 100)]


def test_merge_partials_sorted():
    # index(union(A,B)) == merge(index(A), index(B)) — the indexJoin law
    # (ref: src/cis5550/jobs/Indexer.java:35-51)
    a = encode_postings([2, 9], [1, 2], [5, 6], [[1], [2, 3]])
    b = encode_postings([4], [3], [7], [[1, 2, 4]])
    docs, tfs, dls, pos = merge_postings([a, b])
    assert docs == [2, 4, 9]
    assert tfs == [1, 3, 2]
    assert dls == [5, 7, 6]
    assert pos == [[1], [1, 2, 4], [2, 3]]


# ---------------------------------------------------------------------------
# NumPy-vectorized codec parity (bit-identical to the scalar reference)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from google_spark.functions.codec import (
    block_metadata,
    block_metadata_np,
    decode_postings_arrays,
    encode_postings_np,
)


@st.composite
def _posting_lists(draw):
    n = draw(st.integers(0, 60))
    doc_ids = sorted(
        draw(
            st.sets(st.integers(0, 2**62), min_size=n, max_size=n)
        )
    )
    tfs, dls, positions = [], [], []
    for _ in range(n):
        pos = sorted(draw(st.sets(st.integers(1, 10_000), min_size=1, max_size=8)))
        positions.append(pos)
        tfs.append(len(pos))
        dls.append(draw(st.integers(1, 100_000)))
    return doc_ids, tfs, dls, positions


@given(_posting_lists())
@settings(max_examples=60, deadline=None)
def test_numpy_encode_bit_identical(case):
    doc_ids, tfs, dls, positions = case
    assert encode_postings_np(doc_ids, tfs, dls, positions) == encode_postings(
        doc_ids, tfs, dls, positions
    )


@given(_posting_lists())
@settings(max_examples=60, deadline=None)
def test_numpy_decode_arrays(case):
    doc_ids, tfs, dls, positions = case
    blob = encode_postings(doc_ids, tfs, dls, positions)
    d, t, l = decode_postings_arrays(blob)
    assert d.tolist() == doc_ids
    assert t.tolist() == tfs
    assert l.tolist() == dls


@given(_posting_lists())
@settings(max_examples=30, deadline=None)
def test_numpy_block_metadata_parity(case):
    doc_ids, tfs, dls, _ = case
    if not doc_ids:
        return
    want = block_metadata(doc_ids, tfs, dls)
    last, mx, mn = block_metadata_np(doc_ids, tfs, dls)
    assert [(a, b, c) for a, b, c in zip(last.tolist(), mx.tolist(), mn.tolist())] == want


@given(_posting_lists())
@settings(max_examples=60, deadline=None)
def test_numpy_full_decode_with_positions(case):
    from google_spark.functions.codec import decode_postings_full_np

    doc_ids, tfs, dls, positions = case
    blob = encode_postings(doc_ids, tfs, dls, positions)
    d, t, l, p = decode_postings_full_np(blob)
    assert d.tolist() == doc_ids
    assert t.tolist() == tfs
    assert l.tolist() == dls
    assert [x.tolist() for x in p] == positions


def test_decode_arrays_parity_edge_cases_and_skips_positions():
    """The scoring-array decode equals the scalar ``decode_postings`` on
    an empty list, one-byte varints only, 9-byte doc gaps, huge doc
    lengths and long position lists, and needs no byte past the dls: the
    blob cut before its n_pos varints decodes the same arrays."""
    cases = [
        ([], [], [], []),
        ([0, 1, 2], [1, 1, 1], [1, 1, 1], [[1], [1], [1]]),
        ([2**62, 2**63 - 1], [1, 2], [2**40, 1], [[7], [1, 2**31]]),
        (
            [5, 9_000_000_000, 9_000_000_001],
            [3000, 1, 2500],
            [100_000, 3, 2**33],
            [list(range(1, 6001, 2)), [127], list(range(128, 128 + 2500))],
        ),
    ]
    for doc_ids, tfs, dls, positions in cases:
        blob = encode_postings(doc_ids, tfs, dls, positions)
        want = [list(x) for x in decode_postings(blob)[:3]]
        assert [a.tolist() for a in decode_postings_arrays(blob)] == want
        # with no positions a blob is n, gaps, tfs, dls and one 1-byte
        # n_pos per doc
        no_pos = encode_postings(doc_ids, tfs, dls, [[] for _ in doc_ids])
        head = blob[: len(no_pos) - len(doc_ids)]
        assert [a.tolist() for a in decode_postings_arrays(head)] == want
