"""Property-based tests (hypothesis) over the pure-Python/NumPy kernels —
no SparkSession per example, so hundreds of generated cases stay fast.

Properties locked here:
* codec: encode→decode is the identity for ANY docid-ascending posting
  list (arbitrary gaps, tfs, position sets, block sizes), and the two
  decoders (list-wise and vectorized-array) agree.
* block-max metadata: each block's max_tf/n equal the true values of the
  postings it holds (segment-format metadata that term_stats reports).
* NEAR/WINDOW kernels: every emitted match is witnessed by a valid
  position tuple (ordered adjacent gaps ≤ n for NEAR; span < width for
  WINDOW), and a single-argument op echoes its input list — invariants
  that hold regardless of the reference's greedy quirks.
* SYN merge: sorted multiset union.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_framework_spark.functions.codec import (
    decode_block,
    decode_block_arrays,
    encode_blocks,
    varint_decode_np,
    varint_encode,
)
from search_engine_framework_spark.operators.positional import (
    near_match,
    syn_merge,
    window_match,
)

# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

postings_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=1 << 30),  # docid gap
        st.sets(st.integers(min_value=0, max_value=1 << 20), min_size=1,
                max_size=12),  # position set; tf = len
    ),
    min_size=1,
    max_size=120,
)


@given(postings_strategy, st.integers(min_value=1, max_value=64))
@settings(max_examples=150, deadline=None)
def test_codec_roundtrip_any_postings(entries, block_size):
    doc_ids, tfs, doclens, positions = [], [], [], []
    d = 0
    for gap, pos in entries:
        d += gap
        doc_ids.append(d)
        p = sorted(pos)
        positions.append(p)
        tfs.append(len(p))
        doclens.append(len(p) + 3)
    blocks = encode_blocks(doc_ids, tfs, doclens, positions,
                           block_size=block_size)
    # block partitioning covers everything exactly once, in order
    assert sum(b.n for b in blocks) == len(doc_ids)

    got_d, got_t, got_l, got_p = [], [], [], []
    for b in blocks:
        bd, bt, bl, bp = decode_block(b)
        # block-max metadata is exact for the block's own postings
        assert b.max_tf == max(bt)
        assert b.first_doc == bd[0]
        got_d += bd
        got_t += bt
        got_l += bl
        got_p += bp
    assert got_d == doc_ids
    assert got_t == tfs
    assert got_l == doclens
    assert got_p == positions

    # the vectorized decoder agrees with the list decoder
    for b in blocks:
        bd, bt, bl, bp = decode_block(b)
        ad, at, al, counts, flat = decode_block_arrays(b)
        assert ad.tolist() == bd
        assert at.tolist() == bt
        assert al.tolist() == bl
        assert counts.tolist() == [len(p) for p in bp]
        assert flat.tolist() == [x for p in bp for x in p]


@given(st.lists(st.integers(min_value=0, max_value=(1 << 62)), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_any_values(values):
    arr = np.array(values, dtype=np.uint64)
    assert varint_decode_np(varint_encode(arr)).tolist() == values


# ---------------------------------------------------------------------------
# positional kernels
# ---------------------------------------------------------------------------

pos_lists = st.lists(
    st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=15)
    .map(lambda xs: sorted(set(xs))),
    min_size=1,
    max_size=4,
)


def _near_witness(lists, n, last_pos):
    """True iff an ordered tuple p1<=p2<=...<=pk with gaps <= n ends at
    last_pos (the reference emits the LAST term's position; equal
    positions match, QryopIlNear.java:119)."""
    def rec(i, prev):
        if i == len(lists):
            return prev == last_pos
        return any(
            rec(i + 1, p) for p in lists[i] if i == 0 or (0 <= p - prev <= n)
        )
    if len(lists) == 1:
        return last_pos in lists[0]
    return any(rec(1, p0) for p0 in lists[0] if p0 <= last_pos)


@given(pos_lists, st.integers(min_value=1, max_value=8))
@settings(max_examples=200, deadline=None)
def test_near_matches_are_witnessed(lists, n):
    out = near_match(lists, n)
    assert out == sorted(out)
    for m in out:
        assert _near_witness(lists, n, m), (lists, n, out)


@given(pos_lists, st.integers(min_value=1, max_value=12))
@settings(max_examples=200, deadline=None)
def test_window_matches_are_witnessed(lists, width):
    out = window_match(lists, width)
    assert out == sorted(out)
    for m in out:
        # every emitted max-position is witnessed by one position per term
        # within a window of `width` ending at m (max - min + 1 <= width)
        assert any(
            all(any(m - width < p <= m for p in lst) for lst in lists)
            for _ in [0]
        ), (lists, width, out)
        assert all(any(m - width < p <= m for p in lst) for lst in lists)


@given(pos_lists)
@settings(max_examples=100, deadline=None)
def test_single_arg_ops_echo_input(lists):
    first = lists[:1]
    assert near_match(first, 1) == first[0]
    assert window_match(first, 1) == first[0]


@given(pos_lists)
@settings(max_examples=100, deadline=None)
def test_syn_merge_is_sorted_multiset_union(lists):
    got = syn_merge(lists)
    assert got == sorted(x for lst in lists for x in lst)
