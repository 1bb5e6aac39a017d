"""Property fuzz for the seen-set membership kernels (bloom + cuckoo).

These numpy kernels are the heart of the north-star dedup path
(`operators/seen.py`): a FALSE NEGATIVE means a URL is re-crawled as
new — at 10^10-frontier scale that silently corrupts the crawl
ordering the engine is correctness-matched on. The contracts fuzzed
here, over adversarial 128-bit key sets hypothesis gets to choose:

- bloom: every inserted key tests positive (no false negatives, any
  (m, k) sizing, duplicate keys included);
- bloom: union-by-OR preserves membership of both sides, and setting
  one side's keys into the other's bitmap gives the same bytes;
- cuckoo: every inserted key looks up positive after the eviction
  cascade (or the documented "filter full" error is raised — never
  silent loss);
- cuckoo: deleting a key never removes OTHER keys' membership
  (delete-one-copy semantics), and re-inserting restores it.
"""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

FUZZ = settings(
    max_examples=80,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)


@st.composite
def _keys(draw, max_n=400):
    """(hi, lo) int64 arrays: random 128-bit keys plus adversarial
    shapes — duplicates, zero halves, all-equal-hi collision packs."""
    n = draw(st.integers(1, max_n))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    hi = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
    lo = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
    if draw(st.booleans()):  # duplicate block
        k = max(1, n // 4)
        hi[:k] = hi[-1]
        lo[:k] = lo[-1]
    if draw(st.booleans()):  # zero lo half (degenerate double-hash step)
        lo[: max(1, n // 8)] = 0
    if draw(st.booleans()):  # same-bucket collision pack
        hi[: max(1, n // 8)] = hi[0]
    return hi, lo


@FUZZ
@given(keys=_keys(), fpr=st.sampled_from([0.3, 0.01, 0.001]))
def test_bloom_no_false_negatives(keys, fpr):
    from metadata_crawler_spark.operators.seen import (
        _positions,
        _set_bits,
        _test_bits,
        bloom_params,
    )

    hi, lo = keys
    m, k = bloom_params(len(hi), fpr)
    bits = np.zeros(m // 8, dtype=np.uint8)
    _set_bits(bits, _positions(hi, lo, k, m))
    assert _test_bits(bits, _positions(hi, lo, k, m)).all()


@FUZZ
@given(a=_keys(max_n=200), b=_keys(max_n=200))
def test_bloom_or_union_preserves_membership(a, b):
    from metadata_crawler_spark.operators.seen import (
        _positions,
        _set_bits,
        _test_bits,
        bloom_params,
    )

    m, k = bloom_params(400, 0.01)
    bits_a = np.zeros(m // 8, dtype=np.uint8)
    bits_b = np.zeros(m // 8, dtype=np.uint8)
    _set_bits(bits_a, _positions(*a, k, m))
    _set_bits(bits_b, _positions(*b, k, m))
    merged = bits_a | bits_b
    assert _test_bits(merged, _positions(*a, k, m)).all()
    assert _test_bits(merged, _positions(*b, k, m)).all()
    # growing in place: setting b's positions into a copy of bits_a gives
    # exactly the OR of the two bitmaps
    grown = bits_a.copy()
    _set_bits(grown, _positions(*b, k, m))
    assert grown.tobytes() == merged.tobytes()


@FUZZ
@given(keys=_keys(), load=st.sampled_from([0.5, 0.84]))
def test_cuckoo_no_false_negatives(keys, load):
    from metadata_crawler_spark.operators.seen import (
        _ck_insert_all,
        _ck_lookup,
        cuckoo_params,
    )

    hi, lo = keys
    nb = cuckoo_params(len(hi), load=load)
    table = np.zeros((nb, 4), dtype=np.uint16)
    try:
        _ck_insert_all(table, hi, lo)
    except ValueError:
        # documented overflow contract (duplicate-heavy adversarial
        # packs can exceed the 8-copies-per-fingerprint capacity);
        # what must never happen is SILENT loss below
        return
    assert _ck_lookup(table, hi, lo).all()


@FUZZ
@given(keys=_keys(max_n=200), seed=st.integers(0, 2**31 - 1))
def test_cuckoo_delete_keeps_other_keys(keys, seed):
    from metadata_crawler_spark.operators.seen import (
        _ck_delete_keys,
        _ck_insert_all,
        _ck_lookup,
        cuckoo_params,
    )

    hi, lo = keys
    # dedupe so "other keys" is well-defined under delete-one-copy
    uniq = np.unique(np.stack([hi, lo], axis=1), axis=0)
    hi, lo = uniq[:, 0].copy(), uniq[:, 1].copy()
    # distinct-fingerprint restriction: standard cuckoo deletion is only
    # exact when no distinct key shares (fingerprint, bucket) with a
    # deleted key — with 16-bit fps the residual hazard is ~2^-16 per
    # colliding pair and is the documented filter-level caveat, not a
    # kernel bug. Keep one key per fingerprint so the property is exact.
    _, first = np.unique(
        lo.view(np.uint64) & np.uint64(0xFFFF), return_index=True
    )
    hi, lo = hi[first], lo[first]
    nb = cuckoo_params(len(hi), load=0.5)
    table = np.zeros((nb, 4), dtype=np.uint16)
    try:
        _ck_insert_all(table, hi, lo)
    except ValueError:
        return
    rng = np.random.default_rng(seed)
    del_mask = rng.random(len(hi)) < 0.3
    if not del_mask.any() or del_mask.all():
        return
    removed = _ck_delete_keys(table, hi[del_mask], lo[del_mask])
    assert removed == int(del_mask.sum())
    # survivors must still be members (fingerprint collisions can only
    # ADD positives, never remove them — delete takes one copy and every
    # surviving key still has its own copy stored)
    assert _ck_lookup(table, hi[~del_mask], lo[~del_mask]).all()
    # re-inserting the deleted keys restores full membership
    _ck_insert_all(table, hi[del_mask].copy(), lo[del_mask].copy())
    assert _ck_lookup(table, hi, lo).all()
