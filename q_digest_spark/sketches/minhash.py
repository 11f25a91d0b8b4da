"""MinHash signatures + SimHash fingerprints for near-duplicate
detection over document text.

No counterpart in the reference repo; part of the training-data
pipeline operator set. All computation is batch-vectorized numpy over
pandas Series (shingling uses a single pass per document with numpy
rolling hashes, not Python substring loops).

MinHash: one-permutation hashing with densification (Li, Owen &
Zhang 2012; Shrivastava & Li, ICML 2014) — the shingle hash space is
split into n_perm buckets by the hash's top bits, each bucket keeps
its minimum, and empty buckets borrow cyclically from the left with
an offset-keyed shift (t * C) to avoid spurious matches. One pass
over the shingles replaces the classic 128 re-hash passes;
E[sig_a[j] == sig_b[j]] = Jaccard(a, b) still holds (unbiased).
LSH banding: split the r-long signature into b bands of w rows
(r = b*w); docs sharing any band bucket are candidates. Collision
probability 1 - (1 - s^w)^b (s = true Jaccard).

SimHash (Charikar 2002): 64-bit fingerprint = sign of the
token-hash-weighted bit-sum; hamming distance tracks cosine
similarity of the bag-of-tokens vectors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .hashing import hash_strings, splitmix64

U64 = np.uint64


def char_shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Distinct rolling k-gram hashes of one document (numpy rolling
    polynomial hash over utf-8 bytes, then splitmix64-finalized)."""
    if text is None:
        return np.empty(0, dtype=U64)
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(U64)
    if len(b) < k:
        return splitmix64(b) if len(b) else np.empty(0, dtype=U64)
    base = U64(1099511628211)  # FNV prime as the rolling base
    with np.errstate(over="ignore"):
        powers = np.empty(k, dtype=U64)
        powers[0] = 1
        for i in range(1, k):
            powers[i] = powers[i - 1] * base
        # windows matrix via strided view
        n_win = len(b) - k + 1
        idx = np.arange(k)[None, :] + np.arange(n_win)[:, None]
        h = (b[idx] * powers[None, ::-1]).sum(axis=1)
    return np.unique(splitmix64(h))


_UMAX = np.uint64(np.iinfo(np.uint64).max)
_DENSIFY_C = U64(0x9E3779B97F4A7C15)


def _oph_from_pairs(doc_ids: np.ndarray, hashes: np.ndarray, n_docs: int, m: int) -> np.ndarray:
    """One-permutation MinHash: (doc, shingle-hash) pairs -> (n_docs,
    m) signature matrix in ONE pass. Bucket = top log2(m) hash bits;
    per (doc, bucket) minimum via sort + minimum.reduceat; empty
    buckets densified by cyclic left-borrow + t*C offset shift."""
    assert m & (m - 1) == 0, "n_perm must be a power of two"
    log2m = m.bit_length() - 1
    out = np.full((n_docs, m), _UMAX, dtype=U64)
    if len(hashes):
        bucket = (hashes >> U64(64 - log2m)).astype(np.int64)
        key = doc_ids * m + bucket
        order = np.argsort(key, kind="stable")
        ks, vs = key[order], hashes[order]
        starts = np.flatnonzero(np.concatenate([[True], ks[1:] != ks[:-1]]))
        mins = np.minimum.reduceat(vs, starts)
        kk = ks[starts]
        out[kk // m, kk % m] = mins
    return _densify(out)


def _densify(out: np.ndarray) -> np.ndarray:
    """Shrivastava-&-Li-style densification: an empty bucket j takes
    the value of the nearest non-empty bucket to its (cyclic) left,
    shifted by t * C where t is the borrow distance — so two docs only
    agree on a borrowed slot when source slot AND distance agree.
    Rows with no non-empty bucket stay all-sentinel (empty doc)."""
    D, m = out.shape
    nonempty = out != _UMAX
    if nonempty.all():
        return out
    cols = np.arange(m, dtype=np.int64)[None, :]
    idx = np.where(nonempty, cols, np.int64(-4 * m))
    doubled = np.concatenate([idx, idx + m], axis=1)
    run = np.maximum.accumulate(doubled, axis=1)[:, m:]  # nearest src <= m+j
    t = (cols + m) - run
    has_src = run >= 0
    src = np.clip(run % m, 0, m - 1)
    borrowed = np.take_along_axis(out, src, axis=1)
    with np.errstate(over="ignore"):
        shifted = borrowed + t.astype(np.uint64) * _DENSIFY_C
    fill = (~nonempty) & has_src
    out = out.copy()
    out[fill] = shifted[fill]
    return out


def minhash_batch(texts: pd.Series, n_perm: int = 128, shingle_k: int = 5) -> np.ndarray:
    """(len(texts), n_perm) signature matrix for a batch — fully
    vectorized ACROSS documents: all texts are concatenated once, the
    k-gram rolling hash runs over the whole byte stream in one pass,
    boundary-straddling windows are dropped, and the one-permutation
    scheme turns the (doc, shingle) pairs into signatures with a
    single sort+reduceat. A document's row is the one-permutation
    signature of its ``char_shingle_hashes(t, shingle_k)`` set (all-max
    sentinel for an empty or null document), independent of the rest
    of the batch."""
    k = shingle_k
    D = len(texts)
    bs = [(t.encode("utf-8") if isinstance(t, str) else b"") for t in texts]
    lens = np.array([len(b) for b in bs], dtype=np.int64)
    concat = np.frombuffer(b"".join(bs), dtype=np.uint8).astype(U64)
    n = len(concat)
    doc_parts, hash_parts = [], []
    if n >= k:
        base = U64(1099511628211)
        with np.errstate(over="ignore"):
            powers = np.empty(k, dtype=U64)
            powers[0] = 1
            for i in range(1, k):
                powers[i] = powers[i - 1] * base
            nw = n - k + 1
            h = np.zeros(nw, dtype=U64)
            for j in range(k):
                h += concat[j : nw + j] * powers[k - 1 - j]
        h = splitmix64(h)
        doc_of = np.repeat(np.arange(D, dtype=np.int64), lens)
        keep = doc_of[:nw] == doc_of[k - 1 :]  # window inside one doc
        doc_parts.append(doc_of[:nw][keep])
        hash_parts.append(h[keep])
    # short docs (0 < len < k): hash raw bytes, same as char_shingle_hashes
    for i in np.flatnonzero((lens > 0) & (lens < k)):
        raw = splitmix64(np.frombuffer(bs[i], dtype=np.uint8).astype(U64))
        doc_parts.append(np.full(len(raw), i, dtype=np.int64))
        hash_parts.append(raw)
    if not doc_parts:
        return np.full((D, n_perm), _UMAX, dtype=U64)
    return _oph_from_pairs(
        np.concatenate(doc_parts), np.concatenate(hash_parts), D, n_perm
    )


def band_hashes(sig: np.ndarray, bands: int) -> np.ndarray:
    """(n_docs, bands) bucket keys: hash each band's rows together."""
    n_docs, n_perm = sig.shape
    w = n_perm // bands
    assert bands * w == n_perm, "bands must divide n_perm"
    with np.errstate(over="ignore"):
        acc = np.zeros((n_docs, bands), dtype=U64)
        for j in range(w):
            acc = splitmix64(acc ^ sig[:, j::w][:, :bands])
        # mix the band index in so band i buckets never collide with band j
        acc ^= splitmix64(np.arange(bands, dtype=np.int64).view(U64))[None, :]
    return acc


def exact_jaccard(text_a: str, text_b: str, shingle_k: int = 5) -> float:
    sa = char_shingle_hashes(text_a, shingle_k)
    sb = char_shingle_hashes(text_b, shingle_k)
    if len(sa) == 0 and len(sb) == 0:
        return 1.0
    inter = len(np.intersect1d(sa, sb, assume_unique=True))
    return inter / (len(sa) + len(sb) - inter)


def exact_jaccard_pairs(
    texts_a: pd.Series, texts_b: pd.Series, shingle_k: int = 5
) -> np.ndarray:
    """Vectorized-per-batch exact Jaccard for candidate pairs: each
    DISTINCT text's shingle set is computed once (candidate batches
    repeat the same hot documents many times), then pairs intersect
    pre-sorted unique arrays."""
    cache: dict = {}

    def shingles(t):
        key = id(t) if not isinstance(t, str) else t
        s = cache.get(key)
        if s is None:
            s = cache[key] = char_shingle_hashes(t, shingle_k)
        return s

    out = np.empty(len(texts_a), dtype=np.float64)
    for i, (a, b) in enumerate(zip(texts_a, texts_b)):
        sa, sb = shingles(a), shingles(b)
        if len(sa) == 0 and len(sb) == 0:
            out[i] = 1.0
            continue
        inter = len(np.intersect1d(sa, sb, assume_unique=True))
        out[i] = inter / (len(sa) + len(sb) - inter)
    return out


def simhash64(texts: pd.Series) -> np.ndarray:
    """(len(texts),) int64 simhash fingerprints, vectorized ACROSS the
    batch: all documents' tokens are hashed in one SipHash pass, then
    each of the 64 bit-planes is summed per document with a single
    ``add.reduceat`` (64 passes over the token array, no (tokens, 64)
    matrix materialized)."""
    D = len(texts)
    toks_per_doc = [t.lower().split() if isinstance(t, str) else [] for t in texts]
    lens = np.array([len(t) for t in toks_per_doc], dtype=np.int64)
    T = int(lens.sum())
    out = np.zeros(D, dtype=np.int64)
    if T == 0:
        return out
    all_toks = pd.Series([tok for toks in toks_per_doc for tok in toks])
    th = hash_strings(all_toks)
    offsets = np.concatenate([[0], np.cumsum(lens)])[:-1]
    starts = np.minimum(offsets, T - 1)
    sums = np.empty((D, 64), dtype=np.int64)
    for j in range(64):
        bit = ((th >> U64(j)) & U64(1)).astype(np.int64)
        sums[:, j] = np.add.reduceat(bit, starts)
    score = 2 * sums - lens[:, None]
    weights = (U64(1) << np.arange(64, dtype=U64))[None, :]
    with np.errstate(over="ignore"):
        fp = ((score > 0).astype(U64) * weights).sum(axis=1)
    fp[lens == 0] = U64(0)  # reduceat artifacts for empty docs
    return fp.view(np.int64)


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    x = (np.asarray(a, dtype=np.int64).view(U64)) ^ (np.asarray(b, dtype=np.int64).view(U64))
    cnt = np.zeros(len(x) if x.ndim else 1, dtype=np.int64)
    x = np.atleast_1d(x)
    for _ in range(64):
        cnt += (x & U64(1)).astype(np.int64)
        x = x >> U64(1)
    return cnt
