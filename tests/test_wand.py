"""Multi-term block-max WAND kernel: exactness vs exhaustive scoring, plus
evidence that blocks actually get skipped (the reference analog is the
bounded lazy fetch, HitsFromQuery.java:155-236; our per-block max-impact
stats are stored at build time)."""

import numpy as np
import pandas as pd
import pytest

from blacklab_spark.codec import encode_ints, delta_encode
from blacklab_spark.query import _score_arrays, _wand_multi, _decode_group

BLOCK = 64


def make_blocks(term_id, qidx, docs, tfs, dls, block=BLOCK):
    rows = []
    for i in range(0, len(docs), block):
        d = docs[i : i + block]
        t = tfs[i : i + block]
        ln = dls[i : i + block]
        rows.append(
            {
                "shard": 0,
                "term_id": term_id,
                "qidx": qidx,
                "block_id": i // block,
                "doc_count": len(d),
                "first_doc": int(d[0]),
                "last_doc": int(d[-1]),
                "max_tf": int(t.max()),
                "min_dl": int(ln.min()),
                "doc_ids": encode_ints(delta_encode(d)),
                "tfs": encode_ints(t),
                "dls": encode_ints(ln),
            }
        )
    return rows


def _corpus(seed=0):
    """Rare term (20 docs) + common term (2000 docs): the WAND-friendly
    shape — common-term blocks far from rare docs are skippable."""
    rng = np.random.default_rng(seed)
    n = 2000
    dls = rng.integers(50, 500, size=n).astype(np.int64)
    common_docs = np.arange(n, dtype=np.int64)
    common_tfs = rng.integers(1, 4, size=n).astype(np.int64)
    rare_docs = np.sort(rng.choice(n, size=20, replace=False)).astype(np.int64)
    rare_tfs = rng.integers(1, 6, size=20).astype(np.int64)
    rows = make_blocks(0, 0, rare_docs, rare_tfs, dls[rare_docs])
    rows += make_blocks(1, 1, common_docs, common_tfs, dls)
    pdf = pd.DataFrame(rows)
    N = float(n)
    idf = {
        0: float(np.log(1 + (N - 20 + 0.5) / (20 + 0.5))),
        1: float(np.log(1 + (N - n + 0.5) / (n + 0.5))),
    }
    avgdl = float(dls.mean())
    return pdf, idf, avgdl


@pytest.mark.parametrize("quantize", [False, True])
@pytest.mark.parametrize("k", [5, 10, 50])
def test_wand_matches_exhaustive(quantize, k):
    pdf, idf, avgdl = _corpus()
    qx, dc, tf, dl = _decode_group(pdf, False)
    d_full, s_full = _score_arrays(qx, dc, tf, dl, idf, avgdl, quantize)
    order = np.lexsort((d_full, -s_full))[:k]
    exp = list(zip(d_full[order], np.round(s_full[order], 12)))

    d_w, s_w, n_blocks, n_dec = _wand_multi(pdf, idf, avgdl, k, quantize)
    ow = np.lexsort((d_w, -s_w))[:k]
    got = list(zip(d_w[ow], np.round(s_w[ow], 12)))
    assert got == exp


def test_wand_skips_blocks():
    pdf, idf, avgdl = _corpus()
    _, _, n_blocks, n_dec = _wand_multi(pdf, idf, avgdl, 5, False)
    assert n_dec < n_blocks, f"no blocks skipped ({n_dec}/{n_blocks})"
    # rare term: 1 block; common term: 32 blocks; expect real skipping
    assert n_dec <= n_blocks - 5


def test_wand_three_terms_exact():
    rng = np.random.default_rng(3)
    n = 1500
    dls = rng.integers(50, 400, size=n).astype(np.int64)
    pdf_rows, idf = [], {}
    for q, df_q in enumerate((15, 200, n)):
        docs = np.sort(rng.choice(n, size=df_q, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 5, size=df_q).astype(np.int64)
        pdf_rows += make_blocks(q, q, docs, tfs, dls[docs])
        idf[q] = float(np.log(1 + (n - df_q + 0.5) / (df_q + 0.5)))
    pdf = pd.DataFrame(pdf_rows)
    avgdl = float(dls.mean())
    qx, dc, tf, dl = _decode_group(pdf, False)
    d_full, s_full = _score_arrays(qx, dc, tf, dl, idf, avgdl, True)
    order = np.lexsort((d_full, -s_full))[:10]
    d_w, s_w, _, _ = _wand_multi(pdf, idf, avgdl, 10, True)
    ow = np.lexsort((d_w, -s_w))[:10]
    assert list(d_w[ow]) == list(d_full[order])
    np.testing.assert_allclose(s_w[ow], s_full[order], rtol=0, atol=1e-12)


@pytest.mark.parametrize("quantize", [False, True])
@pytest.mark.parametrize("k", [5, 10, 50])
def test_single_term_chunked_blockmax_exact(quantize, k):
    """Single-term _score_kernel (chunked bound-ordered decode) is exact vs
    exhaustive scoring."""
    from blacklab_spark.query import _score_kernel

    rng = np.random.default_rng(7)
    n = 3000
    dls = rng.integers(30, 600, size=n).astype(np.int64)
    docs = np.arange(n, dtype=np.int64)
    tfs = rng.integers(1, 9, size=n).astype(np.int64)
    pdf = pd.DataFrame(make_blocks(0, 0, docs, tfs, dls))
    idf = {0: float(np.log(1 + (n - n + 0.5) / (n + 0.5)))}
    avgdl = float(dls.mean())

    qx, dc, tf, dl = _decode_group(pdf, False)
    d_full, s_full = _score_arrays(qx, dc, tf, dl, idf, avgdl, quantize)
    order = np.lexsort((d_full, -s_full))[:k]
    exp = list(zip(d_full[order], np.round(s_full[order], 12)))

    out = _score_kernel(idf, avgdl, k, quantize)(pdf)
    oo = np.lexsort((out["doc_id"].to_numpy(), -out["score"].to_numpy()))[:k]
    got = list(
        zip(
            out["doc_id"].to_numpy()[oo],
            np.round(out["score"].to_numpy()[oo], 12),
        )
    )
    assert got == exp


def test_single_term_chunked_blockmax_skips(monkeypatch):
    """With a skewed tf distribution the chunked walk must stop before
    decoding every block (bound-desc order + kth cutoff)."""
    import blacklab_spark.query as Q

    rng = np.random.default_rng(11)
    n = 6400  # 100 blocks of 64
    dls = np.full(n, 100, dtype=np.int64)
    docs = np.arange(n, dtype=np.int64)
    tfs = np.ones(n, dtype=np.int64)
    tfs[:64] = 50  # one hot block dominates
    pdf = pd.DataFrame(make_blocks(0, 0, docs, tfs, dls))
    idf = {0: 1.0}

    calls = {"rows": 0}
    real = Q._decode_group

    def counting(rows, need_pos):
        calls["rows"] += len(rows)
        return real(rows, need_pos)

    monkeypatch.setattr(Q, "_decode_group", counting)
    out = Q._score_kernel(idf, 100.0, 5, False)(pdf)
    assert len(out) == 5
    assert set(out["doc_id"]) <= set(range(64))
    assert calls["rows"] < len(pdf), f"decoded all {calls['rows']} blocks"


def test_single_term_all_ties_exact_docid_break():
    """Degenerate corpus where EVERY doc ties (same tf, same dl): the
    chunked walk must keep bound==kth blocks (>= cutoff) so the global
    (score desc, doc_id asc) tie-break returns the k smallest doc ids."""
    from blacklab_spark.query import _score_kernel

    n = 640
    dls = np.full(n, 100, dtype=np.int64)
    docs = np.arange(n, dtype=np.int64)
    tfs = np.ones(n, dtype=np.int64)
    pdf = pd.DataFrame(make_blocks(0, 0, docs, tfs, dls))
    # shuffle block rows so bound-tie ordering can't accidentally be doc order
    pdf = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    out = _score_kernel({0: 1.0}, 100.0, 10, False)(pdf)
    got = sorted(out["doc_id"].tolist())
    assert got == list(range(10))


def test_filtered_single_term_chunked_exact():
    """Filtered single-term kernel (cogroup): block-range prefilter + the
    chunked bound walk must equal exhaustive filtered scoring, ties
    included."""
    from blacklab_spark.query import _score_arrays, _score_kernel

    rng = np.random.default_rng(23)
    n = 4000
    dls = rng.integers(30, 500, size=n).astype(np.int64)
    docs = np.arange(n, dtype=np.int64)
    tfs = rng.integers(1, 8, size=n).astype(np.int64)
    pdf = pd.DataFrame(make_blocks(0, 0, docs, tfs, dls))
    idf = {0: 1.3}
    avgdl = float(dls.mean())
    allowed = np.sort(rng.choice(n, size=700, replace=False)).astype(np.int64)
    right = pd.DataFrame({"doc_id": allowed})

    for quantize in (False, True):
        for k in (5, 25):
            out = _score_kernel(idf, avgdl, k, quantize)(pdf, right)
            qx, dc, tf, dl = _decode_group(pdf, False)
            m = np.isin(dc, allowed)
            d_full, s_full = _score_arrays(
                qx[m], dc[m], tf[m], dl[m], idf, avgdl, quantize
            )
            order = np.lexsort((d_full, -s_full))[:k]
            exp = list(zip(d_full[order], np.round(s_full[order], 12)))
            oo = np.lexsort((out["doc_id"].to_numpy(), -out["score"].to_numpy()))[:k]
            got = list(
                zip(out["doc_id"].to_numpy()[oo], np.round(out["score"].to_numpy()[oo], 12))
            )
            assert got == exp, (quantize, k)


def test_filtered_single_term_prefilters_blocks(monkeypatch):
    """A tight filter (one allowed doc) must prune almost every block
    BEFORE decode via the [first_doc, last_doc] range check."""
    import blacklab_spark.query as Q

    n = 6400  # 100 blocks
    dls = np.full(n, 100, dtype=np.int64)
    docs = np.arange(n, dtype=np.int64)
    tfs = np.ones(n, dtype=np.int64)
    pdf = pd.DataFrame(make_blocks(0, 0, docs, tfs, dls))
    right = pd.DataFrame({"doc_id": np.array([1234], dtype=np.int64)})

    calls = {"rows": 0}
    real = Q._decode_group

    def counting(rows, need_pos):
        calls["rows"] += len(rows)
        return real(rows, need_pos)

    monkeypatch.setattr(Q, "_decode_group", counting)
    out = Q._score_kernel({0: 1.0}, 100.0, 10, False)(pdf, right)
    assert out["doc_id"].tolist() == [1234]
    assert calls["rows"] == 1, f"decoded {calls['rows']} blocks, expected 1"


@pytest.mark.parametrize("quantize", [False, True])
def test_wand_filtered_matches_exhaustive(quantize):
    """WAND with an allowed-docs filter: exact vs exhaustive filtered
    scoring; theta must come from allowed docs only (a disallowed
    high-scorer must not suppress allowed candidates)."""
    pdf, idf, avgdl = _corpus()
    rng = np.random.default_rng(5)
    allowed = np.sort(rng.choice(2000, size=300, replace=False)).astype(np.int64)
    for k in (5, 20):
        qx, dc, tf, dl = _decode_group(pdf, False)
        m = np.isin(dc, allowed)
        d_full, s_full = _score_arrays(
            qx[m], dc[m], tf[m], dl[m], idf, avgdl, quantize
        )
        order = np.lexsort((d_full, -s_full))[:k]
        exp = list(zip(d_full[order], np.round(s_full[order], 12)))
        d_w, s_w, _, _ = _wand_multi(pdf, idf, avgdl, k, quantize, allowed=allowed)
        ow = np.lexsort((d_w, -s_w))[:k]
        got = list(zip(d_w[ow], np.round(s_w[ow], 12)))
        assert got == exp, (quantize, k)


def test_wand_filtered_prunes_blocks():
    """A tight allowed set must drop common-term blocks before decode via
    the range prefilter."""
    pdf, idf, avgdl = _corpus()
    allowed = np.array([100, 101], dtype=np.int64)
    d_w, s_w, n_blocks, n_dec = _wand_multi(
        pdf, idf, avgdl, 5, False, allowed=allowed
    )
    # 2000 common docs / BLOCK=64 -> 32 blocks; only ~1 overlaps [100, 101]
    assert n_blocks <= 3, f"range prefilter kept {n_blocks} blocks"
    assert set(d_w) <= {100, 101}


@pytest.mark.parametrize("quantize", [False, True])
def test_and_kernel_matches_exhaustive(quantize):
    """The fused AND kernel (n_and): the doc set intersected inside the
    scoring kernel plus the filtered WAND walk equal exhaustive scoring of
    the docs holding every term."""
    from blacklab_spark.query import _score_kernel

    pdf, idf, avgdl = _corpus(seed=9)
    qx, dc, tf, dl = _decode_group(pdf, False)
    both = np.intersect1d(dc[qx == 0], dc[qx == 1])
    m = np.isin(dc, both)
    d_full, s_full = _score_arrays(qx[m], dc[m], tf[m], dl[m], idf, avgdl, quantize)
    for k in (3, 10, 50):
        order = np.lexsort((d_full, -s_full))[:k]
        exp = list(zip(d_full[order], np.round(s_full[order], 12)))
        out = _score_kernel(idf, avgdl, k, quantize, n_and=2)(pdf)
        oo = np.lexsort((out["doc_id"].to_numpy(), -out["score"].to_numpy()))[:k]
        got = list(zip(out["doc_id"].to_numpy()[oo], np.round(out["score"].to_numpy()[oo], 12)))
        assert got == exp, k


# One idf/avgdl draw where BM25 computed as idf*(K1+1)*tf/den rounds 1 ulp
# below idf*(tf/den)*(K1+1) at (tf 2, dl 118): a block bound written the
# first way sits under the score of a doc that reaches it.
TIE_IDF = 3.6312479004579954
TIE_AVGDL = 200.0
TIE_TOP4 = [0, 10, 20, 30]  # all score 5.643762190750683; doc 40 ties too


def _tie_blocks(term_id, qidx, docs, tfs, dls):
    a = lambda x: np.array(x, dtype=np.int64)  # noqa: E731
    return make_blocks(term_id, qidx, a(docs), a(tfs), a(dls), block=2)


def _top(d, s, k):
    o = np.lexsort((d, -s))[:k]
    return [int(x) for x in d[o]]


def test_single_term_bound_keeps_tied_block():
    """Block 0 bounds exactly the kth score and holds doc 0, which wins the
    doc_id tie-break: the chunked walk must decode it, not stop before it."""
    from blacklab_spark.query import _score_kernel

    docs, tfs, dls = [0, 1], [2, 1], [118, 3000]
    for base in (10, 20, 30, 40):
        docs += [base, base + 1]
        tfs += [2, 7]
        dls += [118, 5000]
    pdf = pd.DataFrame(_tie_blocks(0, 0, docs, tfs, dls))
    idf = {0: TIE_IDF}
    qx, dc, tf, dl = _decode_group(pdf, False)
    d_full, s_full = _score_arrays(qx, dc, tf, dl, idf, TIE_AVGDL, False)
    assert _top(d_full, s_full, 4) == TIE_TOP4
    out = _score_kernel(idf, TIE_AVGDL, 4, False)(pdf)
    assert _top(out["doc_id"].to_numpy(), out["score"].to_numpy(), 4) == TIE_TOP4


def test_wand_multi_keeps_tied_block():
    """Two terms of equal idf: the seed term's docs 10..40 set theta, and the
    other term's only block holds doc 0, whose score ties theta with a
    smaller doc_id. The skip test must keep that block."""
    seed = _tie_blocks(0, 0, [10, 20, 30, 40], [2, 2, 2, 2], [118] * 4)
    other = _tie_blocks(1, 1, [0, 1], [2, 1], [118, 3000])
    pdf = pd.DataFrame(seed + other)
    idf = {0: TIE_IDF, 1: TIE_IDF}
    qx, dc, tf, dl = _decode_group(pdf, False)
    d_full, s_full = _score_arrays(qx, dc, tf, dl, idf, TIE_AVGDL, False)
    assert _top(d_full, s_full, 4) == TIE_TOP4
    d_w, s_w, _, _ = _wand_multi(pdf, idf, TIE_AVGDL, 4, False)
    assert _top(d_w, s_w, 4) == TIE_TOP4
