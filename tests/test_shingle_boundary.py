"""Shingle hashes must be a pure function of each doc alone — short docs
(< n words) must not absorb the neighboring doc's words, and signatures must
be identical regardless of batch composition."""

from __future__ import annotations

import numpy as np

from sketchlib import textops
from sketchlib.config import MinHashConfig
from sketchlib import minhash as mh


def _sig_for(texts: list[str], cfg: MinHashConfig, n=3) -> list[np.ndarray]:
    import pandas as pd

    wh, starts = textops._word_hashes(pd.Series(texts))
    sh, sstarts = textops._shingle_hashes(wh, starts.astype(np.int64), n)
    return list(mh.signatures_segmented_oph(sh, sstarts, cfg))


def test_short_doc_signature_independent_of_neighbors():
    cfg = MinHashConfig(num_perm=32)
    short = "a b"  # 2 words < shingle n=3
    sig_alone = _sig_for([short], cfg)[0]
    sig_first = _sig_for([short, "x y z w v u"], cfg)[0]
    sig_middle = _sig_for(["p q r s", short, "x y z w"], cfg)[1]
    assert np.array_equal(sig_alone, sig_first)
    assert np.array_equal(sig_alone, sig_middle)


def test_long_doc_signature_independent_of_neighbors():
    cfg = MinHashConfig(num_perm=32)
    doc = "one two three four five six seven eight"
    a = _sig_for([doc], cfg)[0]
    b = _sig_for(["junk words here", doc, "more junk"], cfg)[1]
    assert np.array_equal(a, b)


def test_empty_and_single_word_docs():
    cfg = MinHashConfig(num_perm=16)
    sigs = _sig_for(["", "solo", "a b c d"], cfg)
    assert (sigs[0] == np.uint64(0xFFFFFFFFFFFFFFFF)).all()  # empty: identity
    assert not np.array_equal(sigs[1], sigs[2])
