"""Property-based invariants (hypothesis) for the round-3 text kernels:
Porter stemmer, BPE segmentation, OCR normalization, text_en analyzer.
These complement the pinned fixtures: fixtures nail exact values on
known words; properties nail structural laws on arbitrary input."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.textproc import (
    _TOKEN_RE,
    bpe_segments,
    bpe_token_count,
    ocr_normalize,
    porter_stem,
    text_en_tokens,
    token_count,
)

words = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=0, max_size=20)
texts = st.text(max_size=300)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(words)
def test_porter_never_grows_and_never_empties(w):
    s = porter_stem(w)
    assert len(s) <= len(w)
    assert (s == "") == (w == "")
    assert s.isascii()


@settings(max_examples=300, deadline=None, derandomize=True)
@given(words)
def test_bpe_segments_reassemble_to_word(w):
    segs = bpe_segments(w)
    assert "".join(segs).replace("</w>", "") == w
    if w:
        assert 1 <= len(segs) <= len(w) + 1
        assert bpe_token_count(w) == len(segs)
    else:
        assert segs == []


@settings(max_examples=300, deadline=None, derandomize=True)
@given(texts)
def test_ocr_normalize_idempotent_and_single_line(t):
    once = ocr_normalize(t)
    assert ocr_normalize(once) == once
    assert "\n" not in once and "\t" not in once
    assert once == once.strip()
    assert "  " not in once


@settings(max_examples=300, deadline=None, derandomize=True)
@given(texts)
def test_text_en_tokens_are_stemmed_alnum(t):
    toks = text_en_tokens(t)
    for tok in toks:
        assert re.fullmatch(r"[a-z0-9]+", tok), tok
        # analyzing an already-analyzed token is stable (each output
        # token is a fixpoint of the analyzer)
        assert text_en_tokens(tok) == [tok]


# ---------------------------------------------------------------------------
# UniMax closed form — property: for ANY language-size vector, budget
# factor, and epoch cap, the "cap the ascending prefix where
# cumcap + C·sz·(n−rank) ≤ B" closed form equals the sequential
# waterfill, conserves the budget when any language is share-bound,
# and never exceeds the cap.
# ---------------------------------------------------------------------------

from hypothesis import strategies as st


@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(min_value=1, max_value=10_000), min_size=1,
             max_size=12),
    st.floats(min_value=0.05, max_value=5.0),
    st.integers(min_value=1, max_value=6),
)
def test_unimax_closed_form_equals_sequential(sizes, budget_factor, cap):
    import math

    budget = math.floor(budget_factor * sum(sizes))
    order = sorted(range(len(sizes)), key=lambda i: (sizes[i], i))
    n = len(sizes)

    # closed form (the engine's rule)
    cum = 0.0
    kstar, cum_kstar = 0, 0.0
    for rank, i in enumerate(order, 1):
        cum += cap * sizes[i]
        if cum + cap * sizes[i] * (n - rank) <= budget:
            kstar, cum_kstar = rank, cum
    closed = {}
    share = (budget - cum_kstar) / (n - kstar) if n > kstar else None
    for rank, i in enumerate(order, 1):
        closed[i] = cap * sizes[i] if rank <= kstar else share

    # literal sequential waterfill
    seq, remaining, left = {}, float(budget), list(order)
    while left:
        i = left[0]
        c = cap * sizes[i]
        sh = remaining / len(left)
        if c <= sh:
            seq[i] = c
            remaining -= c
            left.pop(0)
        else:
            for j in left:
                seq[j] = sh
            left = []

    for i in range(n):
        assert math.isclose(closed[i], seq[i], rel_tol=1e-12, abs_tol=1e-9), (
            sizes, budget_factor, cap, i, closed[i], seq[i])
        assert closed[i] <= cap * sizes[i] + 1e-9  # epoch cap respected
    if kstar < n:
        assert math.isclose(sum(closed.values()), budget,
                            rel_tol=1e-12, abs_tol=1e-6)  # budget spent


ascii_texts = st.text(alphabet=st.characters(max_codepoint=127), max_size=300)


@settings(max_examples=2000, deadline=None, derandomize=True)
@given(st.one_of(ascii_texts, texts))
def test_token_count_equals_regex_count(t):
    """token_count's ASCII fast path (byte classes, C-level counts) and
    its non-ASCII path both equal the regex's match count."""
    assert token_count(t) == len(_TOKEN_RE.findall(t))


def test_token_count_every_ascii_char_and_run_edge():
    cases = [chr(i) for i in range(128)] + [
        "", "a", "a b", "ab,cd", ",a", "a,", "__x9 ", "\x1c\x1fz", "x\x00y", " \t\n\v\f\r",
    ]
    cases += [a + b for a in cases[:128] for b in "a ,\x1f"]
    for t in cases:
        assert token_count(t) == len(_TOKEN_RE.findall(t)), repr(t)
