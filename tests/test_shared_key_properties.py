"""Property test of the "key held by >= 2 distinct ids" statistics
(``banding.held_by_two_ids``: min id < max id over a window on the
key): boilerplate segments, duplicated-span grams, suffix-array
windows and CDC chunks, each against a pure-Python distinct-id count.

Corpora are small, draw tokens from a tiny vocabulary (so keys repeat
inside one doc as well as across docs), give one 4-token header to
many docs (a flood key), and take ids in random order, so the min and
max ids of a key are never the first and last doc."""

from __future__ import annotations

import hashlib

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from dedup_spark.operators.boilerplate import boilerplate_stats
from dedup_spark.operators.cdc import cdc_chunks, cdc_dedup_stats
from dedup_spark.operators.spandedup import duplicated_span_excision
from dedup_spark.operators.suffixarray import repeated_window_stats

SEG = 4  # boilerplate segment, span gram and suffix-array window width
HEADER = ["hh", "ii", "jj", "kk"]
VOCAB = ["aa", "bb", "cc", "dd"]


@st.composite
def corpora(draw):
    """{doc id: token list}: every doc has >= 1 token, the header
    leads a random subset of the docs, and the ids are random strings
    in random order."""
    n = draw(st.integers(min_value=2, max_value=6))
    ids = draw(
        st.lists(
            st.integers(min_value=0, max_value=999), min_size=n, max_size=n,
            unique=True,
        )
    )
    docs = {}
    for i in ids:
        body = draw(st.lists(st.sampled_from(VOCAB), min_size=1, max_size=12))
        docs[f"d{i}"] = (HEADER if draw(st.booleans()) else []) + body
    return docs


def _docs_by_key(keys_of: dict[str, list]) -> dict:
    """key -> the DISTINCT ids holding it."""
    held: dict = {}
    for i, keys in keys_of.items():
        for k in keys:
            held.setdefault(k, set()).add(i)
    return held


def _expect_boilerplate(docs):
    segs = {
        i: [tuple(t[j : j + SEG]) for j in range(0, len(t) - SEG + 1, SEG)]
        for i, t in docs.items()
    }
    held = _docs_by_key(segs)
    out = {}
    for i, t in docs.items():
        n_bp = sum(len(held[s]) >= 2 for s in segs[i])
        out[i] = (len(t) // SEG, n_bp, len(t) - n_bp * SEG)
    return out


def _expect_spans(docs):
    grams = {
        i: [tuple(t[p : p + SEG]) for p in range(len(t) - SEG + 1)]
        for i, t in docs.items()
    }
    held = _docs_by_key(grams)
    out = {}
    for i, t in docs.items():
        cov = {
            p + d
            for p, g in enumerate(grams[i])
            if len(held[g]) >= 2
            for d in range(SEG)
        }
        kept = " ".join(w for p, w in enumerate(t) if p not in cov)
        out[i] = (len(t), len(cov), round(len(cov) / len(t), 6), kept)
    return out


def _expect_windows(docs):
    wins = {
        i: [tuple(t[p : p + SEG]) for p in range(len(t) - SEG + 1)]
        for i, t in docs.items()
    }
    held = _docs_by_key(wins)
    n_occ: dict = {}
    for ws in wins.values():
        for w in ws:
            n_occ[w] = n_occ.get(w, 0) + 1
    out = {}
    for i, ws in wins.items():
        nd = sum(n_occ[w] >= 2 for w in ws)
        frac = round(nd / len(ws), 6) if ws else 0.0
        out[i] = (len(ws), nd, sum(len(held[w]) >= 2 for w in ws), frac)
    return out


def _blob(tokens: list[str]) -> bytes:
    # '@' (0x40) is the only byte whose value is 0 mod 64, so each
    # token + '@' is one CDC chunk
    return "".join(f"{t}@" for t in tokens).encode()


def _expect_cdc(docs):
    chunks = {i: cdc_chunks(_blob(t)) for i, t in docs.items()}
    held = _docs_by_key({i: [h for _, _, h in c] for i, c in chunks.items()})
    out = {}
    for i, c in chunks.items():
        ns = sum(len(held[h]) >= 2 for _, _, h in c)
        out[i] = (len(c), sum(e - s for s, e, _ in c), ns, round(ns / len(c), 6))
    return out


@given(docs=corpora())
# a key repeated inside one doc only is no shared key
@example(docs={"d7": ["aa"] * 8, "d3": ["bb", "cc"]})
# every doc holds the header, the ids sort against insertion order
@example(docs={"d9": HEADER + ["aa"], "d10": HEADER + ["aa"], "d1": HEADER})
@settings(max_examples=6, deadline=None)
def test_window_counts_distinct_ids(spark, docs):
    text = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], "doc_id string, text string"
    )

    got = {
        r["doc_id"]: (r["n_segments"], r["n_boilerplate"], r["kept_tokens"])
        for r in boilerplate_stats(text, seg_tokens=SEG).collect()
    }
    assert got == _expect_boilerplate(docs)

    got = {
        r["doc_id"]: (
            r["n_words"], r["n_covered"], r["dup_fraction"], r["cleaned_text"]
        )
        for r in duplicated_span_excision(text, k=SEG).collect()
    }
    assert got == _expect_spans(docs)

    got = {
        r["doc_id"]: (
            r["n_windows"], r["n_dup_windows"], r["n_cross_doc_windows"],
            r["dup_window_fraction"],
        )
        for r in repeated_window_stats(text, window=SEG).collect()
    }
    assert got == _expect_windows(docs)

    blobs = spark.createDataFrame(
        pd.DataFrame({"video_id": list(docs), "bytes": [_blob(t) for t in docs.values()]})
    )
    got = {
        r["video_id"]: (
            r["n_chunks"], r["n_bytes"], r["n_shared_chunks"], r["shared_fraction"]
        )
        for r in cdc_dedup_stats(blobs).collect()
    }
    assert got == _expect_cdc(docs)


def test_blob_chunks_are_tokens():
    # the CDC reference above relies on this chunking of _blob
    b = _blob(["aa", "hh", "aa"])
    assert [b[s:e] for s, e, _ in cdc_chunks(b)] == [b"aa@", b"hh@", b"aa@"]
    assert cdc_chunks(b)[0][2] == hashlib.md5(b"aa@".hex().upper().encode()).hexdigest()
