"""Tests for the training-data-pipeline extensions: dedup, text,
similarity — small in-memory fixtures with numpy/python oracles."""

from __future__ import annotations

import itertools
import math

import numpy as np

from cellphe_data_pipeline_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_near_duplicates,
    pairwise_jaccard,
    word_shingles,
)
from cellphe_data_pipeline_spark.operators.similarity import (
    cosine_topk_bruteforce,
    srp_topk,
)
from cellphe_data_pipeline_spark.operators.text import language_id, quality_features

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (4, "completely different content about spark engines"),
    (5, "el perro y el gato que corren en los campos"),
    (6, "short"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_dedup(spark):
    out = exact_dedup_groups(_docs_df(spark)).collect()
    groups = {r["keep_id"]: r["n_copies"] for r in out}
    assert groups[1] == 2          # docs 1 and 3 collapse, min id kept
    assert sum(groups.values()) == len(DOCS)
    assert len(out) == len(DOCS) - 1


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)} if len(toks) >= n else set()


def test_shingles_match_python(spark):
    got: dict[int, set[str]] = {}
    for r in word_shingles(_docs_df(spark)).collect():
        got.setdefault(r["doc_id"], set()).add(r["sh"])
    for doc_id, text in DOCS:
        assert got.get(doc_id, set()) == _py_shingles(text), doc_id


def test_shingles_are_distinct_rows_without_shuffle(spark):
    """r16 pin for the shuffle-free distinct: a doc whose n-gram repeats
    ('a b a b a b' → 'a b a' and 'b a b' each twice) emits exactly ONE
    row per distinct shingle — as the old row-level ``.distinct()``
    did — and the plan carries no Exchange (the dedup is the per-row
    ``array_distinct``, not a shuffle)."""
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z")], "doc_id long, text string"
    )
    out = word_shingles(df)
    rows = [(r["doc_id"], r["sh"]) for r in out.collect()]
    assert sorted(rows) == [(1, "a b a"), (1, "b a b"), (2, "x y z")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pairwise_jaccard_exact(spark):
    sh = word_shingles(_docs_df(spark))
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairwise_jaccard(sh, 0.0).collect()}
    py = {d: _py_shingles(t) for d, t in DOCS}
    for a, b in itertools.combinations(sorted(py), 2):
        sa, sb = py[a], py[b]
        inter = len(sa & sb)
        if not sa or not sb or inter == 0:
            assert (a, b) not in out
            continue
        expect = inter / len(sa | sb)
        assert math.isclose(out[(a, b)], round(expect, 6), abs_tol=1e-6)


def test_minhash_finds_exact_and_near_dups(spark):
    # band_size=2 (8 bands of 2): collision probability for a 0.57-jaccard
    # pair is ~96%, so the recall assertion is not a coin flip
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           minhash_near_duplicates(_docs_df(spark), threshold=0.3,
                                   band_size=2).collect()}
    assert out[(1, 3)] == 1.0          # exact dup always collides in every band
    assert (1, 2) in out               # near-dup (jaccard ~0.57)
    # verified jaccard is EXACT (not estimated): compare vs python
    expect = len(_py_shingles(DOCS[0][1]) & _py_shingles(DOCS[1][1])) / len(
        _py_shingles(DOCS[0][1]) | _py_shingles(DOCS[1][1])
    )
    assert math.isclose(out[(1, 2)], round(expect, 6), abs_tol=1e-6)
    assert all(j >= 0.3 for j in out.values())


def test_simhash_width_guards_and_wide_codes(spark):
    """r7: (1) zero-width bands must raise, not silently emit
    all-pairs (ADVICE r6); (2) n_bits caps at 60 (15 md5 hex chars —
    the signed-bigint-portable maximum); (3) wide codes are
    non-degenerate — bits above 31 actually discriminate (the old
    32-bit hash source would zero them silently)."""
    import pytest as _pytest

    from cellphe_data_pipeline_spark.operators.dedup import (
        simhash_codes,
        simhash_near_duplicates,
    )

    df = _docs_df(spark)
    with _pytest.raises(ValueError, match="zero-width"):
        simhash_near_duplicates(df, n_bits=3, max_hamming=3)
    with _pytest.raises(ValueError, match=r"\[1, 60\]"):
        simhash_codes(df, n_bits=61)
    with _pytest.raises(ValueError, match=r"\[1, 60\]"):
        simhash_codes(df, n_bits=0)

    codes = [r["simhash"] for r in simhash_codes(df, n_bits=60).collect()]
    assert all(0 <= c < (1 << 60) for c in codes)
    assert any(c >> 32 not in (0, (1 << 28) - 1) for c in codes), (
        "bits 32-59 carry no information — hash source too narrow"
    )
    # pairing at the widened default returns hamming within bound and
    # finds the exact-dup pair (identical text => identical code)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_duplicates(df).collect()
    }
    assert pairs.get((1, 3)) == 0
    assert all(h <= 3 for h in pairs.values())


def test_pairwise_jaccard_candidate_first_plan_and_equivalence(spark):
    """r7 scale gate: with a candidate set, the verify must be
    CANDIDATE-FIRST — shingles joined onto the pair set, never onto
    each other (the r1-r6 shingle-equality self-join materialised
    Σ_sh count(sh)² rows before the candidate restriction, quadratic
    in hot-shingle frequency). Assertions:

    1. no join in the executed plan is keyed on the shingle ALONE
       (the verify's shingle join is keyed (doc_b, sh), i.e. gated by
       a candidate id);
    2. the candidate-restricted result equals the all-pairs baseline
       restricted to the same pairs — including when the candidate
       set carries band-collision DUPLICATES (multiplicity immunity,
       now via an internal distinct over the pair set)."""
    import re

    sh = word_shingles(_docs_df(spark))
    base = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in pairwise_jaccard(sh, 0.0).collect()
    }
    cand_pairs = [(1, 2), (1, 3), (2, 4)]
    cand = spark.createDataFrame(
        cand_pairs * 3, "doc_a long, doc_b long"  # duplicated candidates
    )
    out = pairwise_jaccard(sh, 0.0, candidates=cand)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
    assert got == {p: base[p] for p in cand_pairs if p in base}

    plan = out._jdf.queryExecution().executedPlan().toString()
    solo_shingle_join = re.compile(r"Join \[sh(?:_a)?#\d+\], \[sh(?:_b)?#\d+\]")
    assert not solo_shingle_join.search(plan), "shingle-shingle join above the candidate gate"

    # the full d3 pipeline plan must be gated the same way
    from cellphe_data_pipeline_spark.operators.dedup import minhash_near_duplicates

    plan3 = (
        minhash_near_duplicates(_docs_df(spark), band_size=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not solo_shingle_join.search(plan3)


def test_minhash_verify_is_rowwise_set_algebra(spark):
    """r16 (guide §2.3/§2.4): minhash_near_duplicates' exact-Jaccard
    verify runs ROW-WISE on the per-doc shingle-set arrays. Pins on
    the EXECUTED plan:

    1. the verify is ``array_intersect`` over the candidate join rows
       (the pre-r16 form joined the exploded corpus keyed (doc_b, sh)
       — a corpus-wide compound-key shuffle at cluster scale);
    2. no join is keyed on a shingle column at all;
    3. the band-key signature aggregation does NOT appear in the final
       plan — it runs exactly once inside its own lineage cut (the LSH
       self-join's two sides previously each re-ran the partial-min
       pass), so the final plan sees only checkpoint scans."""
    import re

    from cellphe_data_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
    )

    df = minhash_near_duplicates(_docs_df(spark), band_size=2)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "array_intersect" in plan
    assert not re.search(r"Join [^\n]*\bsh#\d+", plan), (
        "verify join keyed on an exploded shingle column"
    )
    assert "partial_min" not in plan, (
        "signature aggregation re-ran in the final plan (band-key cut "
        "not effective)"
    )


def test_verify_evaluates_array_intersect_once(spark, monkeypatch):
    """Plan pin for the ``nondeterministic_zero`` barrier in
    ``_verify_intersection_size``: in the executed (final AQE)
    d3/d10/d14 plans the verify projection evaluates ``array_intersect``
    exactly once. Without the barrier, CollapseProject re-inlines the
    intersect into the jaccard/containment ratio and the filter
    conjuncts, so the same plans carry it several times — shown here by
    re-planning with the barrier patched to a deterministic literal
    zero (an identity on the values)."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators import dedup

    def intersect_counts():
        docs = _docs_df(spark)
        counts = {}
        for name, df in (
            ("d3", dedup.minhash_near_duplicates(docs, band_size=2)),
            (
                "d10",
                dedup.incremental_near_duplicates(
                    docs.filter(F.col("doc_id") % 2 == 1),
                    docs.filter(F.col("doc_id") % 2 == 0),
                    band_size=2,
                ),
            ),
            ("d14", dedup.containment_near_duplicates(docs)),
        ):
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            final = plan.split("== Initial Plan ==")[0]
            counts[name] = final.count("array_intersect(")
        return counts

    assert intersect_counts() == {"d3": 1, "d10": 1, "d14": 1}
    monkeypatch.setattr(dedup, "nondeterministic_zero", lambda: F.lit(0.0))
    unpinned = intersect_counts()
    assert all(n > 1 for n in unpinned.values()), unpinned


def test_gopher_gate_mask_not_pushed_into_scan(spark):
    """r16 (guide §4.4 for native trees): gopher_rules(gate_mask=...)
    must keep the rule gate ABOVE the tokenise/count projections. A
    plain downstream .filter(fail_mask & m == 0) is optimizer-pushed
    into the scan predicate with the ENTIRE interpreted HOF tree
    re-inlined (no CSE on the interpreted path — measured 3x at the
    c24 corpus shape). Pins: (1) row set identical to the external
    filter; (2) no Filter in the executed plan re-inlines the
    tokeniser; (3) the gate column does not leak into the output."""
    import re

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.text import gopher_rules

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps with and of to in is that " * 8),
         (2, "short"),
         (3, None)],
        "doc_id long, text string",
    )
    ext = gopher_rules(df).filter(
        F.col("fail_mask").bitwiseAND(F.lit(63)) == 0
    )
    gated = gopher_rules(df, gate_mask=63)
    assert sorted(map(tuple, ext.collect())) == sorted(
        map(tuple, gated.collect())
    )
    assert gated.columns == ext.columns  # no _gq_gate leak
    plan = gated._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Filter [^\n]*", plan):
        assert "split(trim(regexp_replace" not in m.group(0), (
            "gate filter re-inlined the tokeniser tree (pushdown "
            "barrier lost)"
        )


def test_shingle_novelty_first_occurrence_attribution(spark):
    """r6: novelty = fraction of a doc's distinct shingles first seen
    (min doc_id) in that doc. Hand-check: doc 1 owns all its shingles;
    its exact dup doc 3 owns none; doc 6 (< 3 tokens) emits nothing."""
    from cellphe_data_pipeline_spark.operators.dedup import shingle_novelty

    out = {r["doc_id"]: r for r in shingle_novelty(_docs_df(spark)).collect()}
    py = {d: _py_shingles(t) for d, t in DOCS}
    assert 6 not in out  # no shingles
    first = {}
    for d in sorted(py):
        for s in py[d]:
            first.setdefault(s, d)
    for d, shset in py.items():
        if not shset:
            continue
        n_novel = sum(1 for s in shset if first[s] == d)
        assert out[d]["n_shingles"] == len(shset)
        assert out[d]["n_novel"] == n_novel
        assert math.isclose(
            out[d]["novelty"], round(n_novel / len(shset), 6), abs_tol=1e-9
        )
    assert out[1]["novelty"] == 1.0
    assert out[3]["novelty"] == 0.0  # exact dup of doc 1: nothing new


def test_dedup_keep_list_quality_canonicals(spark):
    """r6: every corpus doc gets a (keep, replaced_by) row; within a
    dup cluster the HIGHEST-quality member survives (tie: lowest id)
    and the dropped members point at it; singletons keep with a null
    pointer."""
    from cellphe_data_pipeline_spark.operators.dedup import dedup_keep_list

    rows = [
        # cluster {1,2,3}: 2 is longest -> canonical
        (1, "aa bb cc dd ee ff gg hh", 23),
        (2, "aa bb cc dd ee ff gg hh ii jj", 29),
        (3, "aa bb cc dd ee ff gg hh", 23),  # ties 1 on quality; 2 wins anyway
        (4, "totally unrelated text about nothing shared here at all", 55),
        # cluster {5,6}: equal quality -> lowest id (5) wins
        (5, "xx yy zz ww vv uu tt ss", 23),
        (6, "xx yy zz ww vv uu tt ss", 23),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, n_chars bigint")
    out = {r["doc_id"]: r for r in dedup_keep_list(df, band_size=2).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert out[2]["keep"] and out[2]["replaced_by"] is None
    assert not out[1]["keep"] and out[1]["replaced_by"] == 2
    assert not out[3]["keep"] and out[3]["replaced_by"] == 2
    assert out[4]["keep"] and out[4]["replaced_by"] is None
    assert out[5]["keep"] and out[5]["replaced_by"] is None
    assert not out[6]["keep"] and out[6]["replaced_by"] == 5


def test_dedup_keep_list_string_ids(spark):
    """r7 (ADVICE): a STRING-keyed corpus — valid everywhere else in
    the minhash path — must work through the keep-list too; the
    quality tie-break is min(struct(-q, id)), which never negates the
    id. Tie -> lexicographically smallest id."""
    from cellphe_data_pipeline_spark.operators.dedup import dedup_keep_list

    rows = [
        ("url-b", "aa bb cc dd ee ff gg hh", 23),
        ("url-a", "aa bb cc dd ee ff gg hh ii jj", 29),  # longest -> canonical
        ("url-c", "aa bb cc dd ee ff gg hh", 23),
        ("url-z", "totally unrelated text about nothing shared here at all", 55),
        # equal quality -> lexicographically lowest id wins
        ("url-e", "xx yy zz ww vv uu tt ss", 23),
        ("url-d", "xx yy zz ww vv uu tt ss", 23),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, n_chars bigint")
    out = {r["doc_id"]: r for r in dedup_keep_list(df, band_size=2).collect()}
    assert set(out) == {"url-a", "url-b", "url-c", "url-d", "url-e", "url-z"}
    assert out["url-a"]["keep"] and out["url-a"]["replaced_by"] is None
    assert not out["url-b"]["keep"] and out["url-b"]["replaced_by"] == "url-a"
    assert not out["url-c"]["keep"] and out["url-c"]["replaced_by"] == "url-a"
    assert out["url-z"]["keep"] and out["url-z"]["replaced_by"] is None
    assert out["url-d"]["keep"] and out["url-d"]["replaced_by"] is None
    assert not out["url-e"]["keep"] and out["url-e"]["replaced_by"] == "url-d"


def test_vocab_oov_rates(spark):
    """r6: top-V vocabulary by corpus frequency (ties by token), OOV =
    token occurrences outside it — checked against a python oracle on
    the shared fixture."""
    from collections import Counter

    from cellphe_data_pipeline_spark.operators.text import vocab_oov

    df = _docs_df(spark)
    toks = {d: t.split() for d, t in DOCS}
    counts = Counter(tok for ts in toks.values() for tok in ts)
    v = 5
    vocab = set(
        t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:v]
    )
    out = {r["doc_id"]: r for r in vocab_oov(df, vocab_size=v).collect()}
    for d, ts in toks.items():
        n_oov = sum(1 for t in ts if t not in vocab)
        assert out[d]["n_tokens"] == len(ts)
        assert out[d]["n_oov"] == n_oov
        assert math.isclose(
            out[d]["oov_rate"], round(n_oov / len(ts), 6), abs_tol=1e-9
        )


def test_html_to_text_extraction(spark):
    """r6: script/style/comment bodies vanish, tags become word
    boundaries, entities decode AFTER stripping (literal &lt;script&gt;
    text stays inert), n_tags counts stripped tags, plain text passes
    through untouched."""
    from cellphe_data_pipeline_spark.operators.text import html_to_text

    rows = [
        (1, '<html><head><style>p {x:1}</style><script a="b">var q = "<p>";'
            '</script></head><body><p class="c">Hello <b>world</b></p>'
            '<!-- note\nmore --> &amp; &lt;script&gt;alert(1)&lt;/script&gt;'
            ' done</body></html>'),
        (2, "plain text no markup"),
        (3, "a &lt; b &amp;&amp; c &gt; d"),  # entities in plain text
        (4, "<SCRIPT>var x=1;</SCRIPT><P>Hi</P>"),  # uppercase elements
        (5, "price < 10 and x > 2 ok"),  # bare angle brackets: NOT tags
        (6, None),  # NULL text: router signal must stay two-valued
        # r7 (ADVICE): '>' inside a QUOTED attribute must not end the
        # tag head — the script body behind it is still code
        (7, '<script data-x="a>b">evil();</script> <p>safe</p>'),
        # r7 (ADVICE): unterminated opener drops the tail wholesale
        (8, 'keep this <script type="t">var leak = 1; never closed'),
        (9, "keep <style>p{x:1} unclosed too"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in html_to_text(df).collect()}
    # script/style bodies (incl. the tricky "<p>" inside a string) gone;
    # the literal-entity script text decodes to characters but was
    # never an element, so it survives as TEXT
    assert out[1]["text_clean"] == 'Hello world & <script>alert(1)</script> done'
    assert out[1]["n_tags"] > 0
    assert out[2]["text_clean"] == "plain text no markup"
    assert out[2]["n_tags"] == 0
    assert out[3]["text_clean"] == "a < b && c > d"
    # (?i): uppercase script BODY must vanish, not leak as prose
    assert out[4]["text_clean"] == "Hi"
    # prose comparisons are not pseudo-tags
    assert out[5]["text_clean"] == "price < 10 and x > 2 ok"
    assert out[5]["n_tags"] == 0
    assert out[6]["text_clean"] == "" and out[6]["n_tags"] == 0
    # quoted '>' in the opening tag's attributes: body still dropped
    assert out[7]["text_clean"] == "safe"
    # unterminated script/style openers drop everything after them
    assert out[8]["text_clean"] == "keep this"
    assert out[9]["text_clean"] == "keep"


def test_drop_common_lines_c4_style(spark):
    """r6: a line occurring >= min_count times corpus-wide is dropped
    from every doc; unique lines survive in original order; empty
    lines are ignored; a doc of only-common lines yields empty
    text_clean."""
    from cellphe_data_pipeline_spark.operators.dedup import drop_common_lines

    boiler = "accept cookies to continue"
    rows = [
        (1, ["intro one", boiler, "body one", ""]),
        (2, [boiler, "body two"]),
        (3, ["body three", boiler]),
        (4, ["unique a", "unique b"]),
        (5, [boiler]),  # only-common doc
        (6, []),        # empty lines array
        (7, [""]),      # all-empty lines
        (8, None),      # NULL lines
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, lines array<string>")
    out = {r["doc_id"]: r for r in drop_common_lines(df, min_count=3).collect()}
    assert out[1]["text_clean"] == "intro one\nbody one"
    assert out[1]["n_lines"] == 3 and out[1]["n_dropped"] == 1  # "" ignored
    assert out[2]["text_clean"] == "body two"
    assert out[3]["text_clean"] == "body three"
    assert out[4]["text_clean"] == "unique a\nunique b"
    assert out[4]["n_dropped"] == 0
    assert out[5]["text_clean"] == "" and out[5]["n_dropped"] == 1
    # full-corpus contract: line-less docs come back as (0, 0, ''),
    # they do NOT vanish from the edit
    for d in (6, 7, 8):
        assert out[d]["n_lines"] == 0
        assert out[d]["n_dropped"] == 0
        assert out[d]["text_clean"] == ""
    # the boiler line occurs 4 times; at min_count=5 it survives
    out2 = {r["doc_id"]: r for r in drop_common_lines(df, min_count=5).collect()}
    assert boiler in out2[1]["text_clean"]


def test_drop_common_lines_property_vs_python(spark):
    """Property: on arbitrary small line-corpora over a 3-line
    alphabet (guaranteeing common and unique lines), the engine's
    full-corpus edit equals an independent python oracle — every doc
    present, counts and surviving order exact."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.dedup import drop_common_lines

    line = st.sampled_from(["aa", "bb cc", "dd ee ff", ""])
    doc = st.lists(line, min_size=0, max_size=6)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=5), st.integers(2, 4))
    def check(docs, k):
        rows = [(i + 1, lines) for i, lines in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id bigint, lines array<string>")
        got = {r["doc_id"]: r for r in drop_common_lines(df, min_count=k).collect()}
        from collections import Counter

        counts = Counter(
            ln for _, lines in rows for ln in lines if ln != ""
        )
        common = {ln for ln, n in counts.items() if n >= k}
        assert set(got) == {i for i, _ in rows}  # every doc present
        for i, lines in rows:
            nonempty = [ln for ln in lines if ln != ""]
            keep = [ln for ln in nonempty if ln not in common]
            assert got[i]["n_lines"] == len(nonempty)
            assert got[i]["n_dropped"] == len(nonempty) - len(keep)
            assert got[i]["text_clean"] == "\n".join(keep)

    check()


def test_html_to_text_identity_on_clean_text(spark):
    """Property: text containing no markup metacharacters passes
    through html_to_text verbatim (after whitespace collapse) with
    n_tags == 0 — the extractor never mangles already-clean prose."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.text import html_to_text

    word = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789.,!?'", min_size=1, max_size=8
    )
    doc = st.lists(word, min_size=1, max_size=12).map(" ".join)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6))
    def check(texts):
        rows = [(i + 1, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in html_to_text(df).collect()}
        for i, t in rows:
            assert out[i]["n_tags"] == 0
            assert out[i]["text_clean"] == " ".join(t.split())

    check()


def test_simhash_neardup_exact_over_code_space(spark):
    """r6: unlike probabilistic MinHash banding, the Manku pigeonhole
    construction is EXACT over code space — any pair within hamming
    <= k agrees on one of the k+1 bands, so the operator must return
    precisely the brute-force pair set of the codes. Also checks the
    semantic direction: a one-token edit stays within the radius, and
    near-identical docs pair while unrelated ones need not."""
    import itertools

    from cellphe_data_pipeline_spark.operators.dedup import (
        simhash_codes,
        simhash_near_duplicates,
    )

    rows = [(d, t) for d, t in DOCS] + [
        (7, "the quick brown fox jumps over the lazy dogs"),  # 1-token edit of 1
        (8, "completely different content about spark engines"),  # dup of 4
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    codes = {
        r["doc_id"]: r["simhash"]
        for r in simhash_codes(df, n_bits=32).collect()
    }
    k = 3
    expect = {}
    for a, b in itertools.combinations(sorted(codes), 2):
        h = bin(codes[a] ^ codes[b]).count("1")
        if h <= k:
            expect[(a, b)] = h
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_duplicates(df, n_bits=32, max_hamming=k).collect()
    }
    assert got == expect  # exact recall AND precision over code space
    assert (4, 8) in got and got[(4, 8)] == 0  # exact dup: distance 0
    assert (1, 3) in got and got[(1, 3)] == 0  # exact dup pair from DOCS


def test_quality_and_langid(spark):
    df = _docs_df(spark)
    q = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[1]["stopword_ratio"] > 0        # 'the' x2, 'over' no, ...
    assert q[6]["punct_ratio"] == 0.0
    lang = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert lang[1] == "en"
    assert lang[5] == "es"


def _embeddings_df(spark, n=40, dim=8, seed=3):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, dim).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>"), vecs


def test_bruteforce_topk_matches_numpy(spark):
    df, vecs = _embeddings_df(spark)
    v = vecs.astype("float64")
    norms = np.linalg.norm(v, axis=1)
    cos = (v @ v.T) / np.outer(norms, norms)
    np.fill_diagonal(cos, -np.inf)
    out: dict[int, list] = {}
    for r in cosine_topk_bruteforce(df, k=3).collect():
        out.setdefault(r["vec_id"], []).append((r["rank"], r["neighbor_id"], r["cos_sim"]))
    for i in range(len(v)):
        got = [nb for _, nb, _ in sorted(out[i])]
        want = list(np.argsort(np.round(-cos[i], 5), kind="stable")[:3])
        # compare by rounded cosine values (ties may order differently
        # between stable argsort and (cos desc, id) — compare the scores)
        got_scores = sorted((c for _, _, c in out[i]), reverse=True)
        want_scores = sorted((round(cos[i][j], 5) for j in want), reverse=True)
        assert got_scores == want_scores, i


def test_srp_topk_subset_of_bruteforce_scores(spark):
    df, vecs = _embeddings_df(spark)
    bf = {(r["vec_id"], r["neighbor_id"]): r["cos_sim"]
          for r in cosine_topk_bruteforce(df, k=len(vecs) - 1).collect()}
    for r in srp_topk(df, dim=8, k=3).collect():
        # every SRP result is a real pair with the exact same cosine
        assert math.isclose(bf[(r["vec_id"], r["neighbor_id"])], r["cos_sim"], abs_tol=1e-9)


def test_ivf_topk_recall_and_consistency(spark):
    from cellphe_data_pipeline_spark.operators.similarity import ivf_topk

    df, vecs = _embeddings_df(spark, n=120, dim=8, seed=4)
    bf = {}
    for r in cosine_topk_bruteforce(df, k=5).collect():
        bf.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    bf_scores = {
        (r["vec_id"], r["neighbor_id"]): r["cos_sim"]
        for r in cosine_topk_bruteforce(df, k=len(vecs) - 1).collect()
    }
    got = ivf_topk(df, dim=8, k=5, n_lists=6, n_probe=3)
    rows = got.collect()
    # every IVF pair carries the exact cosine of that pair
    for r in rows:
        assert math.isclose(
            bf_scores[(r["vec_id"], r["neighbor_id"])], r["cos_sim"], abs_tol=1e-9
        )
    # decent recall@5 with 3 of 6 lists probed
    hits = sum(
        1 for r in rows if r["neighbor_id"] in bf.get(r["vec_id"], set())
    )
    total = sum(len(v) for v in bf.values())
    assert hits / total > 0.5, f"recall {hits}/{total}"
    # deterministic under the fixed seed
    rows2 = ivf_topk(df, dim=8, k=5, n_lists=6, n_probe=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_chunking_boundaries(spark):
    from cellphe_data_pipeline_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "x" * 500), (2, "short"), (3, "y" * 200), (4, "z" * 201)],
        "doc_id bigint, text string",
    )
    out = {}
    for r in chunk_documents(docs, size=200, overlap=50).collect():
        out.setdefault(r["doc_id"], []).append(r)
    # 500 chars, step 150: chunks at 0,150,300 -> 3 chunks
    assert [r["chunk_start"] for r in sorted(out[1], key=lambda r: r["chunk_id"])] == [0, 150, 300]
    assert all(len(r["chunk_text"]) <= 200 for r in out[1])
    # coverage: every char position falls inside some chunk
    covered = set()
    for r in out[1]:
        covered.update(range(r["chunk_start"], r["chunk_start"] + len(r["chunk_text"])))
    assert covered == set(range(500))
    assert len(out[2]) == 1 and out[2][0]["chunk_text"] == "short"
    assert len(out[3]) == 1          # exactly size -> one chunk
    assert len(out[4]) == 2          # size+1 -> tail chunk appears


def test_chunking_validates_args(spark):
    import pytest
    from cellphe_data_pipeline_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(1, "abc")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="size > overlap"):
        chunk_documents(docs, size=50, overlap=50)
    with pytest.raises(ValueError, match="size > overlap"):
        chunk_documents(docs, size=50, overlap=60)
    with pytest.raises(ValueError, match="size > overlap"):
        chunk_documents(docs, size=50, overlap=-1)


def test_repetition_features_hand_computed(spark):
    from cellphe_data_pipeline_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [
            # 4 non-empty lines, 2 distinct -> dup_line_frac = 0.5;
            # bigrams of "a b a b a b": "a b" x3, "b a" x2 -> top 3/5
            (1, "a b a b\n\na b a b\nx y\nx y"),
            (2, "unique line one\nunique line two"),
            (3, "single"),          # no bigrams -> 0.0
            (4, ""),                # empty -> all zero
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert got[1]["n_lines"] == 4
    assert got[1]["dup_line_frac"] == 0.5
    # doc1 tokens: a b a b a b a b x y x y -> "a b" appears 4x... recompute:
    # text flattened: 'a b a b a b a b x y x y' (12 tokens, 11 bigrams)
    # 'a b' x4, 'b a' x3, 'b x' 1, 'x y' x2, 'y x' 1 -> top 4/11
    assert got[1]["top_bigram_frac"] == round(4 / 11, 6)
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["top_bigram_frac"] == 0.0 and got[3]["n_lines"] == 1
    assert got[4]["n_lines"] == 0
    assert got[4]["dup_line_frac"] == 0.0 and got[4]["top_bigram_frac"] == 0.0


def test_srp_neardup_subset_of_exact(spark):
    """The SRP-bucketed near-dup path returns a SUBSET of the exact
    theta-join pairs (cosines computed identically; LSH only restricts
    candidates), with useful recall on the fixture corpus, and never
    emits a pair below threshold or a self/reversed pair."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        embedding_near_duplicates,
        embedding_near_duplicates_srp,
    )
    from cellphe_data_pipeline_spark.testing.fixtures import fixture_embeddings_df

    emb = fixture_embeddings_df(spark, n=18, dim=8)
    exact = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in embedding_near_duplicates(emb, threshold=0.9).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in embedding_near_duplicates_srp(
            emb, dim=8, threshold=0.9, n_bits=4, n_bands=4
        ).collect()
    }
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert v == exact[k]          # identical rounded cosine
        assert v >= 0.9
        assert k[0] < k[1]
    # the 3-cluster fixture has many same-cluster pairs; LSH must find
    # a non-trivial share of them (deterministic planes -> stable count)
    assert len(exact) > 0
    assert len(approx) >= len(exact) // 2


def test_hash_stratified_sample_deterministic_and_rated(spark):
    """The md5 gate keeps the SAME rows on every run and hits each
    stratum's quota within binomial tolerance; strata not in the quota
    map fall back to the default rate."""
    from cellphe_data_pipeline_spark.operators.text import hash_stratified_sample

    rows = [(i, ["en", "zh", "fr"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept1 = {r["doc_id"] for r in hash_stratified_sample(
        df, "doc_id", "lang", {"en": 0.5, "zh": 0.2}, default_rate=0.1
    ).collect()}
    kept2 = {r["doc_id"] for r in hash_stratified_sample(
        df, "doc_id", "lang", {"en": 0.5, "zh": 0.2}, default_rate=0.1
    ).collect()}
    assert kept1 == kept2  # deterministic: identical sample every run
    by_lang = {"en": 0, "zh": 0, "fr": 0}
    for i in kept1:
        by_lang[["en", "zh", "fr"][i % 3]] += 1
    # 1000 draws per stratum; allow ~4 sigma of binomial noise
    assert abs(by_lang["en"] - 500) < 65
    assert abs(by_lang["zh"] - 200) < 55
    assert abs(by_lang["fr"] - 100) < 40
    # widening a quota only ADDS rows (monotone gate — stable snapshots)
    wider = {r["doc_id"] for r in hash_stratified_sample(
        df, "doc_id", "lang", {"en": 0.8, "zh": 0.2}, default_rate=0.1
    ).collect()}
    assert kept1 <= wider


def test_quantize_int8_roundtrip_error(spark):
    """Dequantized values land within half a quantization step of the
    source (the round-half-up contract), codes stay in [-127, 127], and
    the max-|v| component maps to ±127 exactly."""
    import numpy as np

    from cellphe_data_pipeline_spark.operators.similarity import quantize_int8

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.randn(16).astype("float32")]) for i in range(40)]
    vecs.append((40, [0.0] * 16))  # all-zero vector edge
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = quantize_int8(df).collect()
    by_vec: dict = {}
    for r in out:
        by_vec.setdefault(r["vec_id"], []).append(r)
    assert set(by_vec) == set(range(41))
    for vid, emb in vecs:
        rows = sorted(by_vec[vid], key=lambda r: r["pos"])
        assert [r["pos"] for r in rows] == list(range(16))
        scale = rows[0]["scale"]
        qv = np.array([r["qv"] for r in rows])
        assert np.abs(qv).max() <= 127
        src = np.array(emb, dtype="float64")
        if scale == 0.0:
            assert (qv == 0).all()
            continue
        assert np.abs(qv * scale - src).max() <= scale / 2 + 1e-12
        assert np.abs(qv).max() == 127  # max component saturates exactly


def test_int8_topk_recall_vs_float(spark):
    """Quantized ranking preserves neighborhoods UNDER ITS OWN METRIC:
    int8_topk ranks by rescaled inner product (MIPS — the semantics an
    int8 SIMD index serves), so recall is measured against the FLOAT
    inner-product top-k (numpy). int8 keeps ~7 bits per component, so
    the neighborhood survives quantization nearly intact."""
    import numpy as np

    from cellphe_data_pipeline_spark.operators.similarity import int8_topk

    rng = np.random.RandomState(13)
    mat = rng.randn(60, 24).astype("float32")
    vecs = [(i, [float(x) for x in mat[i]]) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    qtop: dict = {}
    for r in int8_topk(df, k=3).collect():
        qtop.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    # float MIPS oracle in numpy
    dots = mat.astype("float64") @ mat.astype("float64").T
    np.fill_diagonal(dots, -np.inf)
    ftop = {
        i: set(np.argsort(-dots[i], kind="stable")[:3].tolist()) for i in range(60)
    }
    assert set(qtop) == set(range(60))
    hits = sum(len(qtop[v] & ftop[v]) for v in ftop)
    total = sum(len(ftop[v]) for v in ftop)
    assert hits / total >= 0.9  # int8 keeps the MIPS neighborhood


def test_flag_contaminated_semantics_and_plan(spark):
    """Decontamination: a doc is flagged iff it shares an n-gram with
    the benchmark; the overlap count is exact; the benchmark side is
    broadcast (no shuffle of the training side before the count)."""
    from cellphe_data_pipeline_spark.operators.dedup import flag_contaminated

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),     # shares 'quick brown fox'
            (2, "completely different words here entirely"),
            (3, "quick brown fox quick brown fox"),  # distinct-shingle dedup
            (4, "too short"),                      # < n tokens: no shingles
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox appeared")], "doc_id long, text string"
    )
    out = flag_contaminated(train, bench, n=3)
    rows = {r["doc_id"]: r["n_contaminated_shingles"] for r in out.collect()}
    assert rows == {1: 1, 3: 1}  # doc 3's repeat counts once (distinct shingles)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_int8_srp_topk_bucket_and_error_consistency(spark):
    """v7 composition: every emitted pair shares an SRP bucket (numpy
    recomputation of the same planes) and the quantized score tracks
    the float inner product within the per-pair quantization error
    bound sum(|a_i|*eb + |b_i|*ea + ea*eb), ea/eb = scale/2."""
    import numpy as np

    from cellphe_data_pipeline_spark.operators.similarity import (
        int8_srp_topk,
        srp_planes,
    )

    df, vecs = _embeddings_df(spark, n=80, dim=8, seed=9)
    v = vecs.astype("float64")
    planes = np.array(srp_planes(8, 8, 7))
    codes = ((v @ planes.T) >= 0) @ (1 << np.arange(8))
    rows = int8_srp_topk(df, dim=8, k=3).collect()
    assert len(rows) > 0
    for r in rows:
        a, b = r["vec_id"], r["neighbor_id"]
        assert codes[a] == codes[b]  # same bucket, recomputed independently
        fdot = float(v[a] @ v[b])
        ea = np.abs(v[a]).max() / 127.0 / 2.0
        eb = np.abs(v[b]).max() / 127.0 / 2.0
        bound = float(np.sum(np.abs(v[a]) * eb + np.abs(v[b]) * ea + ea * eb)) + 1e-9
        assert abs(r["sim_q"] - fdot) <= bound


# ---------------------------------------------------------------------
# r5b: duplicated spans / TF-IDF / char-LM gate / k-means training
# ---------------------------------------------------------------------

def _dup_spans_python(docs, n=3):
    """Independent oracle: positioned n-grams, cross-doc dup set,
    per-doc greedy interval merge."""
    grams = {}  # (doc, pos) -> shingle
    for doc_id, text in docs:
        toks = " ".join(text.split()).split(" ")
        for i in range(len(toks) - n + 1):
            grams[(doc_id, i)] = " ".join(toks[i : i + n])
    by_sh = {}
    for (doc, _pos), sh in grams.items():
        by_sh.setdefault(sh, set()).add(doc)
    dup = {sh for sh, ds in by_sh.items() if len(ds) >= 2}
    spans = []
    for doc_id, _ in docs:
        hits = sorted(p for (d, p), sh in grams.items() if d == doc_id and sh in dup)
        cur = None
        for p in hits:
            e = p + n - 1
            if cur is None or p > cur[1]:
                if cur:
                    spans.append((doc_id, *cur))
                cur = [p, e]
            else:
                cur[1] = max(cur[1], e)
        if cur:
            spans.append((doc_id, *cur))
    return sorted((d, s, e, e - s + 1) for d, (s, e) in
                  ((d, (s, e)) for d, s, e in spans))


def test_duplicated_spans_match_python_oracle(spark):
    from cellphe_data_pipeline_spark.operators.dedup import duplicated_spans

    docs = [
        # docs 1/2 share "a b c d" (two overlapping 3-grams -> ONE
        # merged span); doc 1 also shares "x y z" with doc 3 later on
        # (a second, disjoint span); doc 4 is all-unique.
        (1, "a b c d q r s t u x y z"),
        (2, "p a b c d q2 r2"),
        (3, "m n o x y z"),
        (4, "unique tokens only here nothing shared"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
        for r in duplicated_spans(df).collect()
    )
    assert got == _dup_spans_python(docs)
    # the overlapping 3-grams in doc 1 merged: spans are maximal
    doc1 = [g for g in got if g[0] == 1]
    assert (1, 0, 3, 4) in doc1 and (1, 9, 11, 3) in doc1


def test_duplicated_spans_plan_no_cartesian(spark):
    from cellphe_data_pipeline_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id bigint, text string"
    )
    plan = duplicated_spans(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_tfidf_topk_matches_python_oracle(spark):
    from cellphe_data_pipeline_spark.operators.text import tfidf_topk

    docs = [
        (1, "apple apple banana rare1"),
        (2, "apple banana banana cherry"),
        (3, "apple cherry cherry rare2"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"], r["score"])
        for r in tfidf_topk(df, k=2).collect()
    }
    # python oracle
    n_docs = len(docs)
    tf, dfreq = {}, {}
    for d, t in docs:
        toks = t.split()
        for w in toks:
            tf[(d, w)] = tf.get((d, w), 0) + 1
        for w in set(toks):
            dfreq[w] = dfreq.get(w, 0) + 1
    for d, _ in docs:
        scored = sorted(
            ((tf[(d, w)] * n_docs / dfreq[w], w) for (dd, w) in tf if dd == d),
            key=lambda s: (-s[0], s[1]),
        )
        for rank, (score, w) in enumerate(scored[:2], start=1):
            assert got[(d, rank)] == (w, tf[(d, w)], dfreq[w], score)
    # the rare singleton dominates doc 1; doc 3 ties cherry (2*3/2=3)
    # with rare2 (1*3/1=3) and the alphabetical tie-break picks cherry
    assert got[(1, 1)][0] == "rare1"
    assert got[(3, 1)][0] == "cherry" and got[(3, 2)][0] == "rare2"


def test_char_bigram_rarity_matches_python_oracle(spark):
    from cellphe_data_pipeline_spark.operators.text import char_bigram_rarity

    docs = [
        (1, "aaaa aaaa aaaa"),     # only very common bigrams
        # 'aq' is rare CONDITIONALLY: 'a' has many other continuations
        # ('aa', 'a '), so P(q|a) < 10%. (A bigram like 'zq' would NOT
        # be rare — 'z' has no other continuation, so P(q|z)=1.)
        (2, "aaaa aq aaaa"),
        (3, "x"),                  # shorter than a bigram -> no output row
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in char_bigram_rarity(df, common_permille=100).collect()}
    # python oracle
    bigs = {}
    for d, t in docs:
        for i in range(len(t) - 1):
            bigs.setdefault(d, []).append(t[i : i + 2])
    pair = {}
    for bl in bigs.values():
        for b in bl:
            pair[b] = pair.get(b, 0) + 1
    first = {}
    for b, c in pair.items():
        first[b[0]] = first.get(b[0], 0) + c
    for d, bl in bigs.items():
        n_common = sum(1 for b in bl if 1000 * pair[b] >= 100 * first[b[0]])
        assert rows[d]["n_bigrams"] == len(bl)
        assert rows[d]["n_common"] == n_common
        assert rows[d]["common_frac"] == n_common / len(bl)
    assert 3 not in rows
    assert rows[1]["common_frac"] > rows[2]["common_frac"]


def test_kmeans_lloyd_matches_numpy(spark):
    from cellphe_data_pipeline_spark.operators.similarity import kmeans_lloyd

    rng = np.random.RandomState(11)
    # three well-separated blobs so convergence is unambiguous
    blobs = np.concatenate(
        [rng.randn(20, 4) * 0.05 + center
         for center in ([0, 0, 0, 0], [5, 5, 5, 5], [-5, 5, -5, 5])]
    ).astype(np.float32)
    # seeds are the k lowest vec_ids: put one member of each blob first
    # (deterministic k-point init needs separated seeds to converge),
    # then shuffle the remainder
    rest = rng.permutation(np.arange(len(blobs))[~np.isin(np.arange(len(blobs)), [0, 20, 40])])
    vecs = blobs[np.concatenate([[0, 20, 40], rest])]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    k, iters = 3, 3

    def numpy_lloyd():
        cents = vecs[:k].astype(np.float64)
        for _ in range(iters):
            d = ((vecs[:, None, :].astype(np.float64) - cents[None]) ** 2).sum(-1)
            assign = d.argmin(1)
            q = np.floor(vecs.astype(np.float64) * 1e6 + 0.5).astype(np.int64)
            sums = np.zeros((k, vecs.shape[1]), dtype=np.int64)
            counts = np.zeros(k, dtype=np.int64)
            for c in range(k):
                sel = q[assign == c]
                counts[c] = len(sel)
                sums[c] = sel.sum(0)
            cents = sums.astype(np.float64) / counts[:, None] / 1e6
        return cents, counts

    exp_cents, exp_counts = numpy_lloyd()
    got = kmeans_lloyd(df, k=k, iterations=iters).collect()
    for r in got:
        assert exp_counts[r["cluster_id"]] == r["n_members"]
        assert abs(exp_cents[r["cluster_id"], r["dim"]] - r["centroid_val"]) < 1e-9
    # converged: each blob of 20 is one cluster
    assert sorted(exp_counts.tolist()) == [20, 20, 20]


def test_seed_selection_sparse_and_offset_ids(spark):
    """ADVICE r5 (low): seeding with filter(id < k) equals 'the k
    lowest ids' only for dense 0-based ids; a sparse/offset id space
    (e.g. a shard whose ids start at 1e6) must still yield exactly k
    seeds — and a corpus with fewer than k distinct ids must RAISE
    rather than train a degenerate codebook."""
    import pytest

    from cellphe_data_pipeline_spark.operators.similarity import (
        kmeans_lloyd,
        pq_subvectors,
        pq_train_codebook,
    )

    rng = np.random.RandomState(3)
    # offset, sparse ids: 1_000_000, 1_000_007, 1_000_014, ...
    vecs = rng.randn(12, 8).astype(np.float64)
    df = spark.createDataFrame(
        [(1_000_000 + 7 * i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    cents = kmeans_lloyd(df, k=3, iterations=1).collect()
    # clusters are labeled by the 3 lowest ACTUAL ids, and every
    # vector lands somewhere (counts sum to the corpus size)
    assert {r["cluster_id"] for r in cents} <= {1_000_000, 1_000_007, 1_000_014}
    per_cluster = {}
    for r in cents:
        per_cluster[r["cluster_id"]] = r["n_members"]
    assert sum(per_cluster.values()) == 12

    sub = pq_subvectors(df, dim=8, m_subs=2)
    cb = pq_train_codebook(sub, n_codes=4)
    codes = {r["code"] for r in cb.select("code").distinct().collect()}
    assert codes <= {1_000_000 + 7 * i for i in range(4)}
    assert len(codes) >= 1  # non-degenerate: at least one surviving codeword

    # fewer distinct ids than k: explicit error, not silence
    tiny = df.limit(2)
    with pytest.raises(ValueError, match="distinct"):
        kmeans_lloyd(tiny, k=3, iterations=1).collect()


def test_kmeans_assignment_plan_broadcasts_centroids(spark):
    # inspect the ASSIGNMENT stage directly: kmeans_lloyd returns a
    # localCheckpoint (lineage collapsed to an RDD scan), so the join
    # shape is only visible on the pre-checkpoint plan
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id bigint, embedding array<float>",
    )
    seeds = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("cvec")
    )
    plan = (
        kmeans_assign(df, seeds)._jdf.queryExecution().executedPlan().toString()
    )
    # the xk assignment loop must be a broadcast nested loop over the k
    # centroid rows, never a shuffle cartesian of the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_epoch_shuffle_is_deterministic_permutation(spark):
    from cellphe_data_pipeline_spark.operators.text import epoch_shuffle

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(30)], "doc_id bigint, text string"
    )
    out = epoch_shuffle(df, epochs=2, seed=17).collect()
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], {})[r["doc_id"]] = (
            r["epoch_pos"], r["global_pos"],
        )
    # each epoch is a bijection onto 1..N
    for ep, m in by_epoch.items():
        assert sorted(p for p, _ in m.values()) == list(range(1, 31))
    # global positions concatenate the epochs
    assert all(g == p for p, g in by_epoch[1].values())
    assert all(g == p + 30 for p, g in by_epoch[2].values())
    # epochs are DIFFERENT permutations of the same ids
    assert [by_epoch[1][i][0] for i in range(30)] != [
        by_epoch[2][i][0] for i in range(30)
    ]
    # deterministic across plans/runs
    rerun = {
        (r["doc_id"], r["epoch"]): r["global_pos"]
        for r in epoch_shuffle(df, epochs=2, seed=17).collect()
    }
    assert rerun == {(r["doc_id"], r["epoch"]): r["global_pos"] for r in out}
    # a different seed reorders
    other = {
        (r["doc_id"], r["epoch"]): r["global_pos"]
        for r in epoch_shuffle(df, epochs=2, seed=18).collect()
    }
    assert other != rerun


def test_r6_operator_plans_are_scale_shaped(spark):
    """Plan gates for the r6 additions: vocab_oov's membership join is
    a BROADCAST of the vocabulary (the corpus must not shuffle on
    token), and neither novelty nor the keep-list plans contain a
    cartesian product."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.dedup import (
        dedup_keep_list,
        shingle_novelty,
    )
    from cellphe_data_pipeline_spark.operators.text import vocab_oov

    df = _docs_df(spark).withColumn("n_chars", F.length("text"))
    plan = vocab_oov(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    from cellphe_data_pipeline_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    for out in (
        shingle_novelty(df),
        dedup_keep_list(df, band_size=2),
        simhash_near_duplicates(df),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


def test_duplicated_spans_property_vs_python(spark):
    """Property test: on arbitrary small corpora over a 4-token
    alphabet (guaranteeing shared and unshared 3-grams), the engine's
    spans equal the independent python oracle's."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.dedup import duplicated_spans

    token = st.sampled_from(["a", "b", "c", "dd"])
    doc = st.lists(token, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=12, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=4))
    def check(texts):
        docs = [(i + 1, t) for i, t in enumerate(texts) if t]
        if not docs:
            return
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
            for r in duplicated_spans(df).collect()
        )
        assert got == _dup_spans_python(docs)
        # structural invariants: spans within a doc are disjoint and
        # ordered (token-ADJACENT spans are legal: a hit at pos e1+1
        # starts a new maximal span — the merge rule joins overlaps
        # only, matching the python oracle)
        per_doc: dict = {}
        for d, s, e, L in got:
            assert L == e - s + 1 >= 3
            per_doc.setdefault(d, []).append((s, e))
        for spans in per_doc.values():
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert s2 > e1

    check()


def test_tfidf_and_charlm_plan_shapes(spark):
    """Plan gates for the r5b text queries: t7 must not cartesian, and
    t8's model joins must be broadcasts (the corpus stream is probed
    map-side, never shuffled against the model)."""
    from cellphe_data_pipeline_spark.operators.text import (
        char_bigram_rarity,
        tfidf_topk,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id bigint, text string"
    )
    p7 = tfidf_topk(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p7
    # the 1-row n_docs aggregate joins via broadcast nested loop
    assert "BroadcastNestedLoopJoin" in p7

    p8 = char_bigram_rarity(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p8
    assert "BroadcastHashJoin" in p8


def test_minhash_expr_bands_plan_has_no_filter(spark):
    """Regression gate for the r5b 64x finding: a filter above the
    band-key explode gets optimizer-rewritten into a per-array-element
    predicate that re-runs the full signature per band (measured 1.8s
    -> 122s at sf0.1). Short docs must be dropped INSIDE the band
    expression (empty array), leaving no Filter node in the plan."""
    from cellphe_data_pipeline_spark.operators.dedup import minhash_band_key_rows

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x")], "doc_id bigint, text string"
    )
    out = minhash_band_key_rows(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Filter" not in plan
    # and the short doc vanished via the empty array, not a filter
    assert {r["doc_id"] for r in out.collect()} == {1}


def test_minhash_band_key_rows_matches_groupby_and_column_forms(spark, sf_dir):
    """The r8 staged-projection form must be bit-identical to the
    groupBy row form (the pin behind d3b's oracle claim), including the
    short-doc empty-array drop and passthrough columns."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.dedup import (
        minhash_band_key_rows,
        minhash_band_keys,
        word_shingles,
    )
    from cellphe_data_pipeline_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    short = spark.createDataFrame(
        [(100001, "x y"), (100002, "")], "doc_id bigint, text string"
    )
    d = d.select("doc_id", "text").unionByName(short)

    staged = minhash_band_key_rows(d)
    grouped = minhash_band_keys(word_shingles(d))

    key = lambda rows: sorted((r[0], r[1], r[2]) for r in rows)
    got = key(staged.collect())
    assert got == key(grouped.collect())
    assert not any(r[0] >= 100001 for r in got)  # short docs dropped

    # passthrough columns ride every stage
    with_ts = minhash_band_key_rows(
        d.withColumn("grp", F.col("doc_id") % 7), passthrough=("grp",)
    )
    assert set(with_ts.columns) == {"doc_id", "grp", "band", "band_key"}
    r = with_ts.filter(F.col("doc_id") == 3).select("grp").distinct().collect()
    assert [x["grp"] for x in r] == [3]


def test_pq_topk_recall_and_exact_adc(spark):
    """PQ ADC vs numpy oracle: codes, LUT entries and ADC sums are
    replayed in numpy with the identical fixed-point rules; recall@5
    vs exact squared-L2 kNN must clear 0.5 on clustered data."""
    from cellphe_data_pipeline_spark.operators.similarity import pq_topk

    rng = np.random.RandomState(3)
    # clustered corpus so PQ cells are meaningful
    centers = rng.randn(6, 16) * 3
    vecs = np.concatenate(
        [centers[i % 6] + rng.randn(1, 16) * 0.4 for i in range(120)]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    # 32 codewords: with ~6 true clusters that's ~5 cells per cluster,
    # so same-code tie sets stay small enough for identity recall@5 to
    # be meaningful (with 8 codewords a whole 20-member cluster shares
    # one code and tie-breaking caps recall near 5/19 by construction)
    m_subs, n_codes, n_queries, k = 4, 32, 10, 5
    sub = 16 // m_subs
    v = vecs.astype(np.float64)

    def np_pq():
        sv = v.reshape(len(v), m_subs, sub)  # (n, m, sub)
        seeds = sv[:n_codes]                 # (codes, m, sub)
        # assignment to seeds
        d = ((sv[:, None] - seeds.transpose(1, 0, 2)[None].transpose(0, 2, 1, 3)) ** 2)
        # simpler: loop
        cb = np.zeros((m_subs, n_codes, sub))
        members = [[[] for _ in range(n_codes)] for _ in range(m_subs)]
        for m in range(m_subs):
            dist = ((sv[:, m][:, None, :] - seeds[:, m][None]) ** 2).sum(-1)
            a = dist.argmin(1)
            q = np.floor(sv[:, m] * 1e6 + 0.5).astype(np.int64)
            for c in range(n_codes):
                sel = q[a == c]
                if len(sel):
                    cb[m, c] = sel.sum(0).astype(np.float64) / len(sel) / 1e6
                    members[m][c] = sel
        codes = np.zeros((len(v), m_subs), dtype=np.int64)
        for m in range(m_subs):
            live = [c for c in range(n_codes) if len(members[m][c])]
            dist = ((sv[:, m][:, None, :] - cb[m, live][None]) ** 2).sum(-1)
            codes[:, m] = np.array(live)[dist.argmin(1)]
        # LUT + ADC for the probe set
        out = {}
        for qid in range(n_queries):
            dq = np.zeros((m_subs, n_codes), dtype=np.int64)
            for m in range(m_subs):
                for c in range(n_codes):
                    dq[m, c] = np.int64(
                        np.floor(((sv[qid, m] - cb[m, c]) ** 2).sum() * 1e6 + 0.5)
                    )
            adc = {
                nb: int(sum(dq[m, codes[nb, m]] for m in range(m_subs)))
                for nb in range(len(v)) if nb != qid
            }
            out[qid] = sorted(adc.items(), key=lambda t: (t[1], t[0]))[:k]
        return out

    exp = np_pq()
    got = {}
    rows = pq_topk(df, dim=16, m_subs=m_subs, n_codes=n_codes,
                   n_queries=n_queries, k=k).collect()
    for r in rows:
        got.setdefault(r["vec_id"], []).append((r["rank"], r["neighbor_id"], r["adc_q"]))
    for qid in range(n_queries):
        want = [(i + 1, nb, adc) for i, (nb, adc) in enumerate(exp[qid])]
        assert sorted(got[qid]) == want, qid
    # recall@5 vs exact squared-L2 kNN
    hits = total = 0
    for qid in range(n_queries):
        d2 = ((v - v[qid]) ** 2).sum(1)
        d2[qid] = np.inf
        exact = set(np.argsort(d2, kind="stable")[:k])
        approx = {nb for _, nb, _ in got[qid]}
        hits += len(exact & approx)
        total += k
    assert hits / total > 0.5, f"recall {hits}/{total}"


def test_pq_topk_plan_broadcasts_lut_no_cartesian(spark):
    """Scale-shape gate: the ADC scoring join must be a broadcast hash
    join of the tiny LUT against the code table — never a shuffle of
    the corpus on anything but its own keys, never a cartesian."""
    from cellphe_data_pipeline_spark.operators.similarity import pq_topk

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0, 0.0]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    out = pq_topk(df, dim=4, m_subs=2, n_codes=4, n_queries=3, k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_mixture_rebalance_rates_and_gate(spark):
    """Data-driven rebalance: rate_bp is exactly (min_n*10000) div n per
    stratum, the kept set is exactly the md5-bucket gate, and the
    smallest stratum keeps everything."""
    from cellphe_data_pipeline_spark.operators.text import mixture_rebalance
    import hashlib

    rows = [(i, "big") for i in range(40)] + [(100 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, src string")
    out = mixture_rebalance(df, "doc_id", "src").collect()
    rates = {r["src"]: r["rate_bp"] for r in out}
    assert rates["small"] == 10000 and rates["big"] == (10 * 10000) // 40
    kept = {r["doc_id"] for r in out}

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000

    want = {i for i, s in rows if bucket(i) < (10000 if s == "small" else 2500)}
    assert kept == want
    assert {i for i, s in rows if s == "small"} <= kept


def test_quantize_int8_per_dim_exact_and_better_than_per_vector(spark):
    """Per-dim scales replayed in numpy exactly; on an anisotropic
    corpus (one huge dimension) the per-dim reconstruction error is
    strictly smaller than the per-vector one on the small dims."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        quantize_int8,
        quantize_int8_per_dim,
    )

    rng = np.random.RandomState(9)
    vecs = rng.randn(30, 4).astype("float32")
    vecs[:, 0] *= 100.0  # outlier channel
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    rows = quantize_int8_per_dim(df).collect()
    v = vecs.astype(np.float64)
    scales = np.abs(v).max(axis=0) / 127.0
    for r in rows:
        x = v[r["vec_id"], r["pos"]]
        s = scales[r["pos"]]
        assert math.isclose(r["scale"], s, rel_tol=1e-12)
        assert r["qv"] == (0 if s == 0 else int(np.floor(x / s + 0.5)))
    # reconstruction error on the SMALL dims: per-dim must beat per-vector
    per_dim_err = per_vec_err = 0.0
    pv = {(r["vec_id"], r["pos"]): (r["scale"], r["qv"])
          for r in quantize_int8(df).collect()}
    for r in rows:
        if r["pos"] == 0:
            continue
        x = v[r["vec_id"], r["pos"]]
        per_dim_err += abs(x - r["qv"] * r["scale"])
        s2, q2 = pv[(r["vec_id"], r["pos"])]
        per_vec_err += abs(x - q2 * s2)
    assert per_dim_err < per_vec_err / 10


def test_normalize_text_and_mojibake_flag(spark):
    from cellphe_data_pipeline_spark.operators.text import normalize_text

    rows = [
        (1, "plain ascii"),
        (2, "cafÃ© mojibake"),
        (3, "“smart” – dash… and nbsp ’quote’"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert not out[1]["has_mojibake"] and out[1]["normalized"] == "plain ascii"
    assert out[2]["has_mojibake"]
    assert not out[3]["has_mojibake"]
    assert out[3]["normalized"] == '"smart" - dash... and nbsp \'quote\''
    import hashlib
    assert out[3]["norm_hash"] == hashlib.md5(out[3]["normalized"].encode()).hexdigest()


def test_incremental_neardup_matches_full_restriction(spark):
    """Incremental index-vs-batch dedup must equal the FULL self-join
    near-dup result restricted to (index, new) pairs."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_near_duplicates,
    )

    df = _docs_df(spark)  # docs 1-6; 1&3 exact dups, 1&2 near dups
    idx = df.filter("doc_id <= 3")
    new = df.filter("doc_id > 3")
    inc = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in incremental_near_duplicates(idx, new, threshold=0.0,
                                             band_size=2).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_near_duplicates(df, threshold=0.0,
                                         band_size=2).collect()
        if r["doc_a"] <= 3 < r["doc_b"]
    }
    assert inc == full
    # and a new doc that duplicates an index doc IS caught
    new2 = spark.createDataFrame(
        [(10, DOCS[0][1])], "doc_id bigint, text string"
    )
    hits = incremental_near_duplicates(idx, new2, band_size=2).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in hits} >= {(1, 10), (3, 10)}


def test_normalize_urls_canonical_forms(spark):
    """r7: case/www/default-port/fragment/tracking-param/param-order/
    trailing-slash variants collapse to one canonical; malformed URLs
    canonicalise to NULL; non-default ports and foreign-scheme ports
    survive."""
    from cellphe_data_pipeline_spark.operators.text import normalize_urls, url_dedup

    rows = [
        (1, "HTTPS://WWW.Example.com:443/a/b/?utm_source=x&b=2&a=1#frag"),
        (2, "https://example.com/a/b?a=1&b=2"),
        (3, "https://example.com/a/b/?b=2&a=1&fbclid=zz"),
        (4, "http://example.com/a/b"),          # scheme differs: distinct
        (5, "https://example.com:8443/a/b"),    # non-default port kept
        (6, "https://example.com:80/a/b"),      # :80 is NOT https default
        (7, "not a url at all"),                # malformed -> NULL
        (8, "https://example.com/"),            # root path -> stripped
        (9, "https://example.com"),
        (10, "https://example.com/a/b?ref=tw&utm_campaign=c"),  # all tracked
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = {r["doc_id"]: r["url_canonical"] for r in normalize_urls(df).collect()}
    want = "https://example.com/a/b?a=1&b=2"
    assert out[1] == want and out[2] == want and out[3] == want
    assert out[4] == "http://example.com/a/b"
    assert out[5] == "https://example.com:8443/a/b"
    assert out[6] == "https://example.com:80/a/b"
    assert out[7] is None
    assert out[8] == "https://example.com" and out[9] == "https://example.com"
    assert out[10] == "https://example.com/a/b"

    dd = {r["doc_id"]: r for r in url_dedup(df).collect()}
    assert dd[1]["keep"] and dd[1]["n_group"] == 3
    assert not dd[2]["keep"] and not dd[3]["keep"]
    # malformed URLs are their own keepers, never merged
    assert dd[7]["keep"] and dd[7]["n_group"] == 1


def test_dsir_importance_python_oracle(spark):
    """r7: bigint-exact DSIR-lite weights — checked against a direct
    python reimplementation (same md5 bucketing, Laplace count-ratio
    ppm, integer mean)."""
    import hashlib
    from collections import Counter

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.text import dsir_importance

    rows = [
        (1, "alpha beta gamma alpha", True),
        (2, "alpha beta", True),
        (3, "delta epsilon zeta eta", False),
        (4, "alpha delta alpha beta", False),
        (5, "", False),  # empty: no tokens -> no output row
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, is_tgt boolean")
    out = {
        r["doc_id"]: r
        for r in dsir_importance(df, F.col("is_tgt"), n_buckets=64).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 64

    raw, tgt = Counter(), Counter()
    toks_by_doc = {}
    for d, t, is_t in rows:
        ts = [w for w in t.split() if w]
        toks_by_doc[d] = ts
        for w in ts:
            raw[bucket(w)] += 1
            if is_t:
                tgt[bucket(w)] += 1
    for d, _, _ in rows:
        ts = toks_by_doc[d]
        if not ts:
            assert d not in out
            continue
        s = sum((tgt[bucket(w)] + 1) * 1_000_000 // (raw[bucket(w)] + 1) for w in ts)
        assert out[d]["n_tokens"] == len(ts)
        assert out[d]["dsir_ppm"] == s // len(ts)
    # the semantic direction: target-like docs outscore off-target ones
    assert out[1]["dsir_ppm"] > out[3]["dsir_ppm"]


def test_containment_near_duplicates(spark):
    """r7: a doc contained in a larger doc pairs at high containment
    even when Jaccard is low; rare-shingle blocking still finds it;
    unrelated docs don't pair; the frequency cap excludes pairs whose
    only overlap is corpus-common boilerplate."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        containment_near_duplicates,
        pairwise_jaccard,
        word_shingles,
    )

    core = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, core),
        # 2 contains 1 entirely, wrapped in lots of filler: low Jaccard
        (2, "one two three four five six seven " + core + " eight nine ten eleven twelve thirteen"),
        (3, "completely different words about nothing shared with others"),
        (4, "more unrelated content speaking of other topics entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r["doc_a"], r["doc_b"]): r for r in containment_near_duplicates(df).collect()}
    assert (1, 2) in out
    assert out[(1, 2)]["containment"] == 1.0  # every shingle of 1 is in 2
    assert all(k == (1, 2) for k in out)
    # and Jaccard indeed misses it at the same 0.8 bar
    jac = pairwise_jaccard(word_shingles(df), threshold=0.8).collect()
    assert not any({r["doc_a"], r["doc_b"]} == {1, 2} for r in jac)


def test_gopher_rules_bitmask(spark):
    """r7: each published Gopher gate trips its own bitmask bit; a
    clean long doc keeps; empty/NULL docs fail closed."""
    from cellphe_data_pipeline_spark.operators.text import gopher_rules

    good = " ".join(
        ["the quick brown fox jumps over that lazy dog have with be to of and"] * 5
    )  # 65 words, mean len ~3.5, plenty of stopwords
    rows = [
        (1, good),
        (2, "short doc"),  # word count + stopword fail
        (3, " ".join(["a"] * 60)),  # mean word len < 3
        (4, good + " " + " ".join(["#"] * 20)),  # hash symbol ratio > 0.1
        (5, "\n".join(["- item " + str(i) + " of the have that be with list" for i in range(10)])),  # all bullet lines
        (6, "\n".join([good] + ["so it goes on..." for _ in range(5)])),  # >30% ellipsis-end lines
        (7, " ".join(["123 456 789"] * 20) + " the of"),  # alpha-word frac < 0.8
        (8, None),
        (9, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["keep"] and out[1]["fail_mask"] == 0
    assert out[2]["fail_mask"] & 1
    assert out[3]["fail_mask"] & 2
    assert out[4]["fail_mask"] & 4 and not (out[4]["fail_mask"] & 1)
    assert out[5]["fail_mask"] & 8
    assert out[6]["fail_mask"] & 16
    assert out[7]["fail_mask"] & 32
    for d in (8, 9):
        assert not out[d]["keep"] and out[d]["fail_mask"] > 0


def test_dedup_keep_list_null_quality_loses(spark):
    """r7 review: a NULL-quality member must never win the canonical
    pick over a scored member (min(struct) would rank the NULL field
    first without the leading is-null flag); an all-NULL cluster falls
    back to the lowest id."""
    from cellphe_data_pipeline_spark.operators.dedup import dedup_keep_list

    rows = [
        (1, "aa bb cc dd ee ff gg hh", 10),
        (2, "aa bb cc dd ee ff gg hh", None),   # dup of 1, unscored
        (3, "xx yy zz ww vv uu tt ss", None),   # all-NULL cluster {3,4}
        (4, "xx yy zz ww vv uu tt ss", None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, n_chars bigint")
    out = {r["doc_id"]: r for r in dedup_keep_list(df, band_size=2).collect()}
    assert out[1]["keep"] and not out[2]["keep"] and out[2]["replaced_by"] == 1
    assert out[3]["keep"] and not out[4]["keep"] and out[4]["replaced_by"] == 3


def test_pairwise_jaccard_ignores_reversed_and_self_candidates(spark):
    """r7 review: reversed or self candidate rows are ignored (the r6
    semi-join contract), not computed."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        pairwise_jaccard,
        word_shingles,
    )

    rows = [(1, "aa bb cc dd ee"), (2, "aa bb cc dd ee"), (3, "zz yy xx ww vv")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = word_shingles(df)
    cands = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (3, 3)], "doc_a bigint, doc_b bigint"
    )
    out = pairwise_jaccard(sh, threshold=0.5, candidates=cands).collect()
    assert len(out) == 1 and (out[0]["doc_a"], out[0]["doc_b"]) == (1, 2)


def test_split_sentences(spark):
    """r7: terminal-punctuation runs split sentences, punctuation is
    normalised off (including the document-final run), empties drop,
    sent_id is consecutive per doc, NULL text yields nothing."""
    from cellphe_data_pipeline_spark.operators.text import split_sentences

    rows = [
        (1, "First one. Second two!  Third three?!? Fourth"),
        (2, "Only one sentence."),
        (3, "... !!  "),   # punctuation soup -> no sentences
        (4, None),
        (5, "a.b stays together. next"),  # no whitespace after dot: same sentence
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {}
    for r in split_sentences(df).collect():
        out.setdefault(r["doc_id"], []).append((r["sent_id"], r["sentence"]))
    for v in out.values():
        v.sort()
    assert out[1] == [(1, "First one"), (2, "Second two"), (3, "Third three"), (4, "Fourth")]
    assert out[2] == [(1, "Only one sentence")]
    assert 3 not in out and 4 not in out
    assert out[5] == [(1, "a.b stays together"), (2, "next")]


def test_bpe_expression_matches_reference(spark):
    """r7: the Catalyst fold form of BPE equals the plain-python
    reference (greedy, rank order, left-to-right) on a property basis
    — random words over a small alphabet, random merge tables."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.text import (
        bpe_reference,
        bpe_token_counts,
    )

    alphabet = "abcd"
    word = st.text(alphabet=alphabet, min_size=1, max_size=10)

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(word, min_size=1, max_size=6),
        st.lists(
            st.tuples(st.sampled_from(alphabet), st.sampled_from(alphabet)),
            min_size=0,
            max_size=5,
        ),
    )
    def check(words, base_merges):
        # grow a couple of chained rules so merged symbols re-merge
        merges = list(dict.fromkeys(base_merges))
        if merges:
            a, b = merges[0]
            merges.append((a + b, a))
        rows = [(1, " ".join(words))]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = bpe_token_counts(df, merges).collect()
        exp = sum(len(bpe_reference(w, merges)) for w in words)
        assert out[0]["n_words"] == len(words)
        assert out[0]["n_bpe_tokens"] == exp

    check()

def test_semantic_dedup_keeps_least_central_and_dominance(spark):
    """r7 SemDeDup: priority is ascending (centroid_sim, id) — the
    LEAST-central member of each tau-connected group survives — and
    the drop rule is the documented DOMINANCE form: vec 1 is dropped
    by its tau-neighbor 2 even though 2 is itself dropped (the
    sequential greedy would keep 1; this pins the deviation)."""
    import math

    from cellphe_data_pipeline_spark.operators.dedup import semantic_dedup

    def at(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg)), 0.0]

    # k=1 -> single cluster, centroid = vec 1's own vector (lowest id).
    # Chain: cos(1,2)=cos(2,3)=cos25 ~ 0.906 >= tau; cos(1,3)=cos50
    # ~ 0.643 < tau. Priorities (centroid_sim asc): 4 < 3 < 2 < 1.
    rows = [
        (1, at(0)),            # centroid_sim 1.0
        (2, at(25)),           # ~0.906
        (3, at(50)),           # ~0.643
        (4, [0.0, 0.0, 1.0]),  # 0.0 — tau-isolated
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(df, k=1, threshold=0.85).collect()
    }
    # 4: no tau-neighbor; 3: only higher-priority is 4 (cos 0) -> kept
    assert out[4] is True and out[3] is True
    # 2: dominated by 3 (cos25 >= tau, higher priority)
    assert out[2] is False
    # 1: its only >=tau higher-priority neighbor is 2, which is itself
    # dropped — greedy keeps 1, dominance drops it
    assert out[1] is False


def test_bloom_decontaminate_superset_and_convergence(spark):
    """r7 Bloom gate: flagged set is a SUPERSET of the exact c5 flags
    at any m (no false negatives — the decontamination safety
    property), and converges to exactly the c5 output when the bitmap
    is big enough that no phantom collisions occur."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        bloom_decontaminate,
        flag_contaminated,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),      # bench
            (21, "alpha beta gamma delta zeta"),        # overlaps bench
            (22, "one two three four five six"),        # clean
            (23, "gamma delta epsilon eta theta"),      # overlaps bench
        ],
        "doc_id bigint, text string",
    )
    train = docs.filter("doc_id >= 20")
    bench = docs.filter("doc_id < 20")
    exact = {
        r["doc_id"]: r["n_contaminated_shingles"]
        for r in flag_contaminated(train, bench).collect()
    }
    # big bitmap: phantom-free -> identical to the exact join
    big = {
        r["doc_id"]: r["n_flagged_shingles"]
        for r in bloom_decontaminate(train, bench, m_bits=1 << 20).collect()
    }
    assert big == exact
    # tiny bitmap: every position collides -> everything flagged, and
    # every exact flag is still present with count >= exact count
    tiny = {
        r["doc_id"]: r["n_flagged_shingles"]
        for r in bloom_decontaminate(train, bench, m_bits=2).collect()
    }
    for doc, n in exact.items():
        assert tiny.get(doc, 0) >= n


def test_bpe_learn_merges_matches_python_reference(spark):
    """r7 BPE learning: the engine's pair-count/argmax/replace loop
    equals an independent plain-python Sennrich trainer (word-count
    weighted pair frequencies, ties -> lexicographically smallest
    pair) on a corpus with repeat-heavy words — including the
    [a,a,a,a] -> [aa,aa] greedy non-overlap case — and the learned
    table drives bpe_token_counts/bpe_reference consistently."""
    from collections import Counter

    from cellphe_data_pipeline_spark.operators.text import (
        bpe_learn_merges,
        bpe_reference,
    )

    docs = [
        (1, "aaaa aaaa banana low lower lowest"),
        (2, "banana bandana low low newer newest"),
        (3, "aaaa banana newer wider wide"),
    ]

    def py_learn(texts, n):
        words = Counter(w for _, t in texts for w in t.split() if w)
        vocab = {w: tuple(w) for w in words}
        merges = []
        for _ in range(n):
            pc = Counter()
            for w, toks in vocab.items():
                for i in range(len(toks) - 1):
                    pc[(toks[i], toks[i + 1])] += words[w]
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            (l, r), c = best
            merges.append((l, r, c))
            vocab = {
                w: tuple(bpe_reference_apply(toks, l, r))
                for w, toks in vocab.items()
            }
        return merges

    def bpe_reference_apply(toks, a, b):
        out = []
        for t in toks:
            if out and out[-1] == a and t == b:
                out[-1] = a + b
            else:
                out.append(t)
        return out

    expected = py_learn(docs, 5)
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = [
        (r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_learn_merges(df, n_merges=5)
        .orderBy("merge_rank")
        .collect()
    ]
    # the corpus contains "aaaa" so equality at every rank proves the
    # engine's literal-replace application matches the fold semantics
    # (bpe_reference_apply) including the greedy non-overlap case
    assert got == expected


def test_pack_context_windows_straddles_boundaries(spark):
    """r7 packing: docs straddle fixed-L windows with clipped spans;
    streams pack independently; zero-token docs occupy no positions."""
    from cellphe_data_pipeline_spark.operators.text import pack_context_windows

    docs = [
        (1, "s1", "a b c"),            # 3 tokens -> [0, 2]
        (2, "s1", "d e f g"),          # 4 tokens -> [3, 6] straddles w0/w1
        (3, "s1", "h i"),              # 2 tokens -> [7, 8] straddles w1/w2
        (4, "s2", "x y z w v"),        # own stream: [0, 4] -> w0 + w1
        (5, "s2", ""),                 # zero tokens -> absent
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, source string, text string")
    rows = {
        (r["stream"], r["window_id"], r["doc_id"]): (r["tok_start"], r["tok_end"])
        for r in pack_context_windows(df, window_tokens=4).collect()
    }
    assert rows == {
        ("s1", 0, 1): (0, 2),
        ("s1", 0, 2): (3, 3),
        ("s1", 1, 2): (0, 2),
        ("s1", 1, 3): (3, 3),
        ("s1", 2, 3): (0, 0),
        ("s2", 0, 4): (0, 3),
        ("s2", 1, 4): (0, 0),
    }


def test_code_detect_discriminates(spark):
    """r7 code router: obvious code trips >= 2 of 3 signals, prose
    trips none; the empty doc yields NULL ratios and is_code False."""
    from cellphe_data_pipeline_spark.operators.text import code_detect

    docs = [
        (1, "def add(a, b):\n    return a + b;\n\nimport sys\n"
            "class Foo:\n    x = 1;\n"),
        (2, "The quick brown fox jumps over the lazy dog. "
            "It was a bright day and the town was quiet."),
        (3, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in code_detect(df).collect()}
    assert out[1]["is_code"] is True and out[1]["keyword_hits"] >= 2
    assert out[2]["is_code"] is False and out[2]["keyword_hits"] == 0
    assert out[3]["is_code"] is False and out[3]["symbol_ratio"] is None


def test_fim_transform_reassembles_and_gates(spark):
    """r7 FIM: applied rows carry the PSM sentinel layout whose parts
    reassemble the original text exactly (prefix+middle+suffix);
    unapplied rows pass through verbatim; rate_bp=0 / 10000 gate
    nothing / everything."""
    import re

    from cellphe_data_pipeline_spark.operators.text import fim_transform

    docs = [(i, f"doc {i} body abcdefghij" * 3) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    orig = dict(docs)

    out = fim_transform(df, rate_bp=10000).collect()
    assert all(r["fim_applied"] for r in out)
    pat = re.compile(r"^<PRE>(.*)<SUF>(.*)<MID>(.*)$", re.S)
    for r in out:
        m = pat.match(r["fim_text"])
        assert m, r["fim_text"]
        pre, suf, mid = m.groups()
        assert pre + mid + suf == orig[r["doc_id"]]
        assert len(pre) == r["cut_lo"] and len(pre) + len(mid) == r["cut_hi"]

    none = fim_transform(df, rate_bp=0).collect()
    assert all(
        (not r["fim_applied"])
        and r["fim_text"] == orig[r["doc_id"]]
        and r["cut_lo"] is None
        for r in none
    )


def test_semantic_dedup_accepts_trained_centroids(spark):
    """r7: the documented plug-in path — kmeans_lloyd's long-format
    centroids reshaped to (cluster_id, cvec) drive semantic_dedup's
    clustering; every input vector is labelled exactly once and the
    per-cluster keep rule still holds (exactly one kept member per
    tau-connected group)."""
    import math

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.dedup import semantic_dedup
    from cellphe_data_pipeline_spark.operators.similarity import kmeans_lloyd

    def at(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg)), 0.0]

    rows = [(i, at(i * 3)) for i in range(1, 9)] + [
        (9, [0.0, 0.0, 1.0]),
        (10, [0.0, 0.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = (
        kmeans_lloyd(df, k=2, iterations=1)
        .groupBy("cluster_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "centroid_val"))
            ).alias("p")
        )
        .select(
            "cluster_id",
            F.transform(F.col("p"), lambda s: s["centroid_val"]).alias("cvec"),
        )
    )
    out = semantic_dedup(df, centroids=cents, threshold=0.95).collect()
    assert len(out) == 10
    assert {r["vec_id"] for r in out} == set(range(1, 11))
    # the ten near-collinear vectors collapse hard under tau=0.95;
    # the two isolated poles always survive
    kept = {r["vec_id"] for r in out if r["kept"]}
    assert 9 in kept and 10 in kept
    assert len(kept) < 10


def test_pack_context_windows_property_vs_python(spark):
    """Property: on arbitrary small corpora, the packing manifest
    equals an independent python packer — per stream, doc spans tile
    the concatenated token stream exactly (no gaps, no overlaps),
    every window's covered token count is L except the final partial
    window, and per-doc span lengths sum to the doc's token count."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.text import (
        bpe_ish_token_count,
        pack_context_windows,
    )
    from pyspark.sql import functions as F

    word = st.sampled_from(["alpha", "b,b", "c3", ""])
    text = st.lists(word, min_size=0, max_size=12).map(" ".join)
    doc = st.tuples(st.sampled_from(["s1", "s2"]), text)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=8), st.integers(2, 5))
    def check(docs, L):
        rows = [(i + 1, s, t) for i, (s, t) in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
        # engine's own token counter defines the stream positions
        ntok = {
            r["doc_id"]: r["n"]
            for r in df.select(
                "doc_id", bpe_ish_token_count(F.col("text")).alias("n")
            ).collect()
        }
        got = pack_context_windows(df, window_tokens=L).collect()

        expected = []
        for stream in ("s1", "s2"):
            pos = 0
            for i, s, _ in rows:
                if s != stream or ntok[i] == 0:
                    continue
                start, end = pos, pos + ntok[i] - 1
                for w in range(start // L, end // L + 1):
                    expected.append(
                        (stream, w, i,
                         max(0, start - w * L), min(L - 1, end - w * L))
                    )
                pos = end + 1
        assert sorted(
            (r["stream"], r["window_id"], r["doc_id"], r["tok_start"], r["tok_end"])
            for r in got
        ) == sorted(expected)

    check()


def test_remove_duplicated_spans_cuts_and_preserves(spark):
    """r7 span removal: the shared trigram run vanishes from both
    docs, unique text survives in order, the untouched doc passes
    through verbatim, and every input doc has an output row."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    shared = "one two three four five"
    docs = [
        (1, f"alpha beta {shared} gamma"),
        (2, f"delta {shared} epsilon zeta"),
        (3, "totally unrelated text with no repeats"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["text_clean"] == "alpha beta gamma"
    assert out[2]["text_clean"] == "delta epsilon zeta"
    assert out[1]["n_removed"] == 5 and out[2]["n_removed"] == 5
    assert out[3]["text_clean"] == docs[2][1] and out[3]["n_removed"] == 0


def test_pmi_phrases_scores_and_ranks(spark):
    """r7 PMI phrases: a pair that always co-occurs outranks a pair
    diluted across contexts; integer ppm score matches hand
    arithmetic; min_count filters rare pairs; min_count <= delta is
    rejected (integer-division portability guard)."""
    import pytest

    from cellphe_data_pipeline_spark.operators.text import pmi_phrases

    # "new york" appears 6x, always together; "big apple" 6x but both
    # words also occur alone often, diluting the denominator.
    text = ("new york " * 6 + "big apple " * 6 + "big dog " * 6
            + "red apple " * 6).strip()
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    out = pmi_phrases(df, min_count=5, delta=3, k=10).collect()
    rows = {(r["w1"], r["w2"]): r for r in out}
    assert ("new", "york") in rows
    ny = rows[("new", "york")]
    # hand arithmetic: N = 48 tokens, c_ab=6, c_new=6, c_york=6
    assert ny["n_pair"] == 6 and ny["n_w1"] == 6 and ny["n_w2"] == 6
    assert ny["score_ppm"] == (6 - 3) * 48 * 1_000_000 // 36
    if ("big", "apple") in rows:
        assert rows[("big", "apple")]["score_ppm"] < ny["score_ppm"]

    with pytest.raises(ValueError, match="min_count > delta"):
        pmi_phrases(df, min_count=3, delta=3)


def test_hamming_code_pairs_multi_code_id_raises(spark):
    """r8 ADVICE fix: hamming_code_pairs' one-code-per-id contract is
    enforced by a plan-embedded assert — an id carrying two code rows
    (e.g. frame_dhash output keyed on path alone for a multi-page
    input) fails loudly instead of emitting contradictory pairs, and
    the same data keyed on a composite id passes."""
    import pytest

    from cellphe_data_pipeline_spark.operators.dedup import hamming_code_pairs

    rows = [("a", 0, 0), ("a", 1, 255), ("b", 0, 1)]
    df = spark.createDataFrame(rows, "path string, frame int, code bigint")

    with pytest.raises(Exception, match="multiple code rows"):
        hamming_code_pairs(
            df, id_col="path", code_col="code", n_bits=8, max_hamming=3
        ).collect()

    from pyspark.sql import functions as F

    composite = df.select(
        F.concat_ws("#", "path", "frame").alias("fid"), "code"
    )
    out = hamming_code_pairs(
        composite, id_col="fid", code_col="code", n_bits=8, max_hamming=3
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
    assert pairs == {("a#0", "b#0"): 1}


def test_bpe_delta_strategy_equals_recount(spark):
    """r8 delta-update BPE learning: the incremental pair-count /
    batched-merge strategy is bit-identical to the serial full-recount
    strategy (the r7 implementation, kept as the in-repo oracle) over
    a seeded word-soup corpus at k=30 — deep enough that batches,
    affected-slice deltas, and count tombstones all get exercised."""
    import random

    from cellphe_data_pipeline_spark.operators.text import bpe_learn_merges

    rng = random.Random(8)
    syll = ["ab", "ba", "ca", "ad", "da", "be", "eb", "fa", "ga", "ha"]
    docs = [
        (
            i,
            " ".join(
                "".join(rng.choices(syll, k=rng.randint(1, 4)))
                for _ in range(30)
            ),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = lambda d: [tuple(r) for r in d.orderBy("merge_rank").collect()]
    got = rows(bpe_learn_merges(df, n_merges=30, strategy="delta"))
    want = rows(bpe_learn_merges(df, n_merges=30, strategy="recount"))
    assert got == want
    assert len(want) == 30


def test_bpe_select_batch_conditions():
    """The driver-side serial-equivalence batch selector: disjoint
    high-count pairs batch together; a symbol collision (including
    with a merged token) stops the scan; the hazard bound rejects a
    candidate an earlier merge could have overtaken; truncated
    fetches treat the floor as a hazard."""
    from cellphe_data_pipeline_spark.operators.text import _bpe_select_batch

    row = lambda l, r, c: {"l": l, "r": r, "c": c}

    # fully disjoint: everything batches
    f = [row("a", "b", 100), row("c", "d", 90), row("e", "f", 80)]
    assert _bpe_select_batch(f, False, 10)[0] == [
        ("a", "b", 100), ("c", "d", 90), ("e", "f", 80)
    ]

    # shared symbol stops the scan at the collision, not past it
    f = [row("a", "b", 100), row("b", "c", 90), row("e", "f", 80)]
    assert _bpe_select_batch(f, False, 10)[0] == [("a", "b", 100)]

    # merged-token collision ("ab" reappears as a member) stops too
    f = [row("a", "b", 100), row("ab", "z", 90)]
    assert _bpe_select_batch(f, False, 10)[0] == [("a", "b", 100)]

    # hazard: (x,a) shares "a" with the selected (a,b) and counts 60;
    # candidate (c,d) at 50 <= 2*60 could have been overtaken by a
    # pair the (a,b) merge boosts -> rejected
    f = [row("a", "b", 100), row("x", "a", 60), row("c", "d", 50)]
    assert _bpe_select_batch(f, False, 10)[0] == [("a", "b", 100)]
    # ...but at 150 > 2*60 + floor 0 it is safe
    f = [row("a", "b", 200), row("c", "d", 150), row("x", "a", 60)]
    assert _bpe_select_batch(f, False, 10)[0] == [
        ("a", "b", 200), ("c", "d", 150)
    ]

    # truncated fetch: unfetched pairs may count up to the floor, so
    # a second pick must clear 2 * floor
    f = [row("a", "b", 10), row("c", "d", 9)]
    assert _bpe_select_batch(f, True, 10)[0] == [("a", "b", 10)]

    # max_take caps the batch
    f = [row("a", "b", 100), row("c", "d", 90)]
    assert _bpe_select_batch(f, False, 1)[0] == [("a", "b", 100)]


def test_span_corruption_matches_python_oracle(spark):
    """r8 T5-style span corruption: the blocked deterministic sampler
    equals an independent python implementation (same seeded-md5
    draws) — input/target reassembly, sentinel numbering, masked
    counts — and rate_pct=0 is the identity with a bare final
    sentinel."""
    import hashlib

    from cellphe_data_pipeline_spark.operators.text import span_corruption

    B, R, M, SEED = 4, 60, 2, "t5-v1"

    def h(doc_id, blk, salt):
        s = f"{doc_id}:{blk}:{SEED}:{salt}"
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def py(doc_id, text):
        toks = [t for t in text.split() if t]
        if not toks:
            return None
        blocks = {}
        for pos, tok in enumerate(toks):
            blocks.setdefault(pos // B, []).append((pos, tok))
        in_parts, tgt_parts, n_masked, sidx = [], [], 0, 0
        for blk in sorted(blocks):
            rows = blocks[blk]
            off = h(doc_id, blk, "o") % B
            ln = 1 + h(doc_id, blk, "l") % M
            gate = h(doc_id, blk, "g") % 100 < R
            msk = [
                (p, t) for p, t in rows if gate and off <= p % B < off + ln
            ]
            if msk:
                sent = f"<X{sidx}>"
                sidx += 1
                n_masked += len(msk)
                fm = msk[0][0]
                pre = [t for p, t in rows if (p, t) not in msk and p < fm]
                suf = [t for p, t in rows if (p, t) not in msk and p > fm]
                in_parts.append(" ".join(pre + [sent] + suf))
                tgt_parts.append(" ".join([sent] + [t for _, t in msk]))
            else:
                in_parts.append(" ".join(t for _, t in rows))
        tgt = (
            " ".join(tgt_parts) + f" <X{sidx}>" if tgt_parts else f"<X{sidx}>"
        )
        return (doc_id, sidx, n_masked, " ".join(in_parts), tgt)

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "a b"),
        (3, ""),
        (4, "one two three four five six seven eight nine ten"),
        (5, "x " * 40),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = sorted(
        tuple(r)
        for r in span_corruption(
            df, block_tokens=B, rate_pct=R, max_span=M
        ).collect()
    )
    want = sorted(p for p in (py(i, t) for i, t in docs) if p is not None)
    assert got == want

    clean = span_corruption(df, block_tokens=B, rate_pct=0, max_span=M)
    for r in clean.collect():
        assert r["n_spans"] == 0 and r["target_text"] == "<X0>"
        assert r["input_text"] == " ".join(dict(docs)[r["doc_id"]].split())


def test_semantic_decontaminate_flags_neighbors(spark):
    """r8 semantic decontamination: an exact copy of an eval vector is
    flagged at cos=1.0, near-copies above the threshold are flagged
    when SRP buckets collide (copies always collide — identical sign
    pattern), orthogonal corpus rows stay clean, and every corpus row
    is emitted exactly once."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        semantic_decontaminate,
    )

    dim = 8
    e1 = [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]
    e2 = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0]
    evals = spark.createDataFrame(
        [(100, e1), (101, e2)], "vec_id bigint, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [
            (1, e1),                                        # exact copy
            (2, [0.9, 0.1, 0.0, 0.0, 0.9, 0.1, 0.0, 0.0]),  # near copy of e1
            (3, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, -1.0, 0.0]), # orthogonal
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in semantic_decontaminate(
            corpus, evals, dim=dim, threshold=0.8
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["contaminated"] and out[1]["max_eval_cos"] == 1.0
    assert out[2]["contaminated"] and out[2]["n_eval_hits"] >= 1
    assert not out[3]["contaminated"]
    assert out[3]["n_eval_hits"] == 0 and out[3]["max_eval_cos"] is None


def test_count_min_sketch_properties(spark):
    """r8 count-min: estimates never undercount; with width >> vocab
    the estimate is exact for every token; and the sketch cells are
    MERGEABLE — sketching two corpus halves and summing cell-wise
    equals sketching the whole (the fixed-size shard-merge property
    that makes it a 100 TB structure)."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.text import (
        count_min_heavy_hitters,
    )

    docs = [
        (1, "a a a a b b c d e f g h"),
        (2, "a b b c c c i j k l m n"),
        (3, "z z z z z z z z y y x w"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    tight = count_min_heavy_hitters(df, k=30, depth=4, width=4).collect()
    assert all(r["est_n"] >= r["exact_n"] for r in tight)
    assert {r["tok"] for r in tight} == set("abcdefghijklmnwxyz") | {"z", "y"}

    wide = count_min_heavy_hitters(df, k=30, depth=4, width=65536).collect()
    assert all(r["est_n"] == r["exact_n"] for r in wide)
    by_tok = {r["tok"]: r["exact_n"] for r in wide}
    assert by_tok["z"] == 8 and by_tok["a"] == 5 and by_tok["c"] == 4

    # merge property AT THE ENGINE LEVEL: unioning two shard sketches
    # and summing cell-wise equals sketching the whole corpus — the
    # fixed-size shard/stream-merge surface (count_min_cells)
    from cellphe_data_pipeline_spark.operators.text import (
        _doc_tokens,
        count_min_cells,
    )

    def cell_map(d):
        return {
            (r["row"], r["col"]): r["cell_n"]
            for r in count_min_cells(_doc_tokens(d), 2, 8).collect()
        }

    whole = cell_map(df)
    merged_df = (
        count_min_cells(_doc_tokens(df.filter(F.col("doc_id") <= 1)), 2, 8)
        .unionByName(
            count_min_cells(_doc_tokens(df.filter(F.col("doc_id") > 1)), 2, 8)
        )
        .groupBy("row", "col")
        .agg(F.sum("cell_n").alias("cell_n"))
    )
    merged = {
        (r["row"], r["col"]): r["cell_n"] for r in merged_df.collect()
    }
    assert merged == whole


def test_bpe_arrow_path_equals_expression_path(spark):
    """r8 Arrow BPE apply: the kernel implements the GPT-2 priority
    loop on ARBITRARY merge tables (checked vs a python priority
    reference), and on RANK-CLOSED tables — the only kind BPE
    learning produces — it additionally equals the rank-order
    expression fold (the t17/t24 shared-oracle contract). Arbitrary
    tables can diverge from the fold (e.g. [("ac","c"),("a","c")]
    on "acc"), so the equivalence half constrains its generator to
    rank-closed tables. Includes a 1000-rule table where the
    expression form would build a 1000-fold plan."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.text import (
        bpe_priority_reference,
        bpe_reference,
        bpe_token_counts_arrow,
    )

    words = st.text(alphabet="abcd", min_size=1, max_size=8)
    docs_strategy = st.lists(
        st.lists(words, min_size=1, max_size=6), min_size=1, max_size=4
    )

    def run_kernel(docs, merges):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        return {
            r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
            for r in bpe_token_counts_arrow(df, merges).collect()
        }

    @settings(max_examples=10, deadline=None)
    @given(
        docs=docs_strategy,
        merges=st.lists(
            st.tuples(
                st.text(alphabet="abcd", min_size=1, max_size=2),
                st.text(alphabet="abcd", min_size=1, max_size=2),
            ),
            min_size=0,
            max_size=8,
        ),
    )
    def check_priority_semantics(docs, merges):
        want = {
            i: (
                len(ws),
                sum(len(bpe_priority_reference(w, merges)) for w in ws),
            )
            for i, ws in enumerate(docs)
        }
        assert run_kernel(docs, merges) == want

    @st.composite
    def rank_closed_merges(draw):
        # grow the token pool the way learning does: each rule's
        # sides are chars or outputs of earlier rules
        pool = list("abcd")
        merges = []
        for _ in range(draw(st.integers(min_value=0, max_value=8))):
            a = draw(st.sampled_from(pool))
            b = draw(st.sampled_from(pool))
            if (a, b) in merges or len(a + b) > 12:
                continue
            merges.append((a, b))
            pool.append(a + b)
        return merges

    @settings(max_examples=10, deadline=None)
    @given(docs=docs_strategy, merges=rank_closed_merges())
    def check_fold_equivalence_on_rank_closed(docs, merges):
        want = {
            i: (
                len(ws),
                sum(len(bpe_reference(w, merges)) for w in ws),
            )
            for i, ws in enumerate(docs)
        }
        assert run_kernel(docs, merges) == want

    check_priority_semantics()
    check_fold_equivalence_on_rank_closed()

    # 1000-rule table: collapses 'a'*8 pairwise (a+a, aa+aa, ...)
    # padded with inert rules; the kernel cost must not scale with it
    big = [("a", "a"), ("aa", "aa"), ("aaaa", "aaaa")] + [
        (f"x{i}", f"y{i}") for i in range(997)
    ]
    df = spark.createDataFrame(
        [(1, "aaaaaaaa aaaa bcd")], "doc_id bigint, text string"
    )
    out = bpe_token_counts_arrow(df, big).collect()[0]
    assert (out["n_words"], out["n_bpe_tokens"]) == (3, 1 + 1 + 3)


def test_ivf_topk_rejects_training_knobs_with_pretrained_centroids(spark):
    """r9 advisor: n_lists/seed are dead parameters when a pre-trained
    centroid table is passed — fail loudly instead of silently using
    the table's own list count."""
    import pytest

    from cellphe_data_pipeline_spark.operators.similarity import ivf_topk
    from cellphe_data_pipeline_spark.testing.fixtures import (
        fixture_embeddings_df,
    )

    df = fixture_embeddings_df(spark)
    cents = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [1.0] * 8)], "cluster_id int, cvec array<double>"
    )
    with pytest.raises(ValueError, match="training"):
        ivf_topk(df, dim=8, n_lists=32, centroids=cents)
    with pytest.raises(ValueError, match="training"):
        ivf_topk(df, dim=8, seed=3, centroids=cents)
    # and the trained path still accepts the table alone
    assert ivf_topk(df, dim=8, k=2, centroids=cents).count() > 0


def test_ivf_assign_vectors_is_broadcast_only(spark):
    """v14's append-path contract: assigning a batch against a
    published centroid table must not shuffle the batch on data —
    the centroids arrive by broadcast and the only Exchange is the
    per-vector rank window's keyed partitioning."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        ivf_assign_vectors,
    )
    from cellphe_data_pipeline_spark.testing.fixtures import (
        fixture_embeddings_df,
    )

    cents = spark.createDataFrame(
        [(0, [0.1] * 8), (1, [0.9] * 8)], "cluster_id int, cvec array<double>"
    )
    df = fixture_embeddings_df(spark)
    out = ivf_assign_vectors(df, cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert out.count() == df.count()  # rank-1: exactly one list per vector


def test_pq_adc_topk_corpus_side_never_sort_merge_joins(spark):
    """v15's query-path contract: scoring the code table against the
    probe LUT must be a broadcast hash join (codes-only corpus side,
    LUT broadcast) — a sort-merge join here would shuffle the whole
    code table per probe batch."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_query_lut,
        pq_subvectors,
        pq_train_codebook,
    )
    from cellphe_data_pipeline_spark.testing.fixtures import (
        fixture_embeddings_df,
    )

    df = fixture_embeddings_df(spark)
    sub = pq_subvectors(df, dim=8, m_subs=2)
    cb = pq_train_codebook(sub, n_codes=4).localCheckpoint(eager=True)
    from pyspark.sql import functions as F

    out = pq_adc_topk(
        pq_encode(sub, cb),
        pq_query_lut(sub.filter(F.col("vec_id") < 3), cb),
        k=2,
    )
    rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert rows and all(r["rank"] <= 2 for r in rows)


def test_bpe_classify_stop_reasons():
    """The selector reports WHY it stopped — the labels the SCALE.md
    stage measurement reads come straight from the selection scan
    (one source of truth, r9 review)."""
    from cellphe_data_pipeline_spark.operators.text import _bpe_select_batch

    def rows(*tups):
        return [{"l": l, "r": r, "c": c} for l, r, c in tups]

    # budget stop
    b, why = _bpe_select_batch(rows(("a", "b", 100), ("c", "d", 90)), False, 1)
    assert len(b) == 1 and why == "max_take"
    # exhausted: disjoint pairs, huge separation clears the hazard
    b, why = _bpe_select_batch(rows(("a", "b", 100), ("c", "d", 3)), False, 10)
    assert len(b) == 2 and why == "exhausted"
    # overlap: next candidate shares a symbol with the selection
    b, why = _bpe_select_batch(
        rows(("a", "b", 100), ("b", "c", 90), ("d", "e", 3)), False, 10
    )
    assert len(b) == 1 and why == "overlap"
    # hazard: disjoint but count-dense
    b, why = _bpe_select_batch(
        rows(("a", "b", 100), ("c", "d", 90), ("b", "x", 85)), False, 10
    )
    assert len(b) == 1 and why == "hazard"
    # empty fetch
    b, why = _bpe_select_batch([], False, 10)
    assert b == [] and why == "exhausted"


def test_ivf_recall_curve_monotone_in_probes(spark):
    """v16's defining property: probe sets are nested (rn <= 1 subset
    of rn <= 2 subset of rn <= 4), so candidate sets are nested and
    recall@k is monotone nondecreasing in n_probe; full probing of all
    16 lists would reach recall 1.0, so the curve must sit below 1e6
    ppm and rise toward it."""
    from cellphe_data_pipeline_spark.queries import REGISTRY

    rows = sorted(
        (r["n_probe"], r["recall_ppm"], r["n_exact"], r["n_hit"])
        for r in REGISTRY["v16_ivf_recall_curve"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    )
    assert [p for p, *_ in rows] == [1, 2, 4]
    ppms = [ppm for _, ppm, *_ in rows]
    assert ppms == sorted(ppms), f"recall not monotone in n_probe: {rows}"
    assert all(0 <= x <= 1_000_000 for x in ppms)
    # hits never exceed the exact count
    assert all(h <= n for _, _, n, h in rows)


def test_variant_extraction_missing_paths_and_types(spark):
    """t28's VARIANT surface: typed extraction binds, missing paths
    yield NULL (both try and plain forms), out-of-range array index
    yields NULL."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([('{"a": {"b": 7}, "t": ["p", "q"]}',)], "j string")
    v = F.parse_json(F.col("j"))
    r = df.select(
        F.variant_get(v, "$.a.b", "bigint").alias("b"),
        F.variant_get(v, "$.t[1]", "string").alias("t1"),
        F.variant_get(v, "$.t[9]", "string").alias("t_oob"),
        F.try_variant_get(v, "$.nope.deep", "string").alias("missing"),
        F.variant_get(v, "$.nope.deep", "string").alias("missing_plain"),
    ).collect()[0]
    assert r["b"] == 7 and r["t1"] == "q"
    assert r["t_oob"] is None and r["missing"] is None and r["missing_plain"] is None


def test_mmr_diversify_skips_near_duplicate(spark):
    """Hand-computed MMR: the second pick must skip the near-duplicate
    of the first even though it has the higher relevance."""
    from cellphe_data_pipeline_spark.operators.similarity import mmr_diversify

    # candidates for one query: a (rel .9), b (rel .89, near-dup of a),
    # c (rel .5, diverse)
    cand = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.89), (1, 12, 0.5)],
        "qid bigint, did bigint, rel double",
    )
    sims = [
        (1, 10, 11, 0.99), (1, 11, 10, 0.99),
        (1, 10, 12, 0.10), (1, 12, 10, 0.10),
        (1, 11, 12, 0.10), (1, 12, 11, 0.10),
    ]
    pairs = spark.createDataFrame(
        sims, "qid bigint, d1 bigint, d2 bigint, sim double"
    )
    got = {
        r["pick_rank"]: (r["neighbor_id"], r["mmr_score"])
        for r in mmr_diversify(cand, pairs, k=3, lam=0.5).collect()
    }
    # rank1: a (score .45); rank2: b scores .89/2-.99/2=-.05,
    # c scores .5/2-.1/2=.2 -> c wins despite lower rel; rank3: b
    assert got[1] == (10, 0.5 * 0.9)
    assert got[2] == (12, 0.5 * 0.5 - 0.5 * 0.10)
    assert got[3][0] == 11


def test_mmr_diversify_handles_short_candidate_lists(spark):
    from cellphe_data_pipeline_spark.operators.similarity import mmr_diversify

    cand = spark.createDataFrame(
        [(7, 1, 0.8), (7, 2, 0.6)], "qid bigint, did bigint, rel double"
    )
    pairs = spark.createDataFrame(
        [(7, 1, 2, 0.3), (7, 2, 1, 0.3)],
        "qid bigint, d1 bigint, d2 bigint, sim double",
    )
    out = mmr_diversify(cand, pairs, k=5, lam=0.5).collect()
    assert sorted(r["pick_rank"] for r in out) == [1, 2]  # k capped at |C|


def test_c23_clusters_never_straddle_splits(spark, sf_dir):
    """The leakage-safety invariant: every multi-doc near-dup cluster
    lands wholly in one split, and both splits are populated."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.queries import REGISTRY

    out = REGISTRY["c23_leakage_safe_split"].fn(spark, sf_dir)
    per_key = out.groupBy("split_key").agg(
        F.count_distinct("split").alias("n_splits"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    assert per_key.filter(F.col("n_splits") > 1).count() == 0
    # real clusters exist at this SF (else the test proves nothing)
    assert per_key.filter(F.col("n_docs") > 1).count() > 0
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val"}


def test_mmr_property_vs_python_greedy(spark):
    """Property: on arbitrary small candidate sets with 2-decimal rels
    and sims, mmr_diversify equals an independent python greedy (argmax
    of 0.5*rel - 0.5*maxsim, ties by id)."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.similarity import mmr_diversify

    score2 = st.integers(0, 100).map(lambda v: v / 100.0)

    @settings(max_examples=6, deadline=None)
    @given(st.integers(2, 5), st.data())
    def check(n_cand, data):
        dids = list(range(1, n_cand + 1))
        rel = {d: data.draw(score2) for d in dids}
        sim = {
            (a, b): data.draw(score2)
            for a in dids for b in dids if a != b
        }
        cand = spark.createDataFrame(
            [(1, d, rel[d]) for d in dids],
            "qid bigint, did bigint, rel double",
        )
        pairs = spark.createDataFrame(
            [(1, a, b, s) for (a, b), s in sim.items()],
            "qid bigint, d1 bigint, d2 bigint, sim double",
        )
        got = {
            r["pick_rank"]: (r["neighbor_id"], r["mmr_score"])
            for r in mmr_diversify(cand, pairs, k=3, lam=0.5).collect()
        }
        remaining, selected, want = sorted(dids), [], {}
        for rank in range(1, min(3, n_cand) + 1):
            best = min(
                remaining,
                key=lambda d: (
                    -(0.5 * rel[d] - 0.5 * max(
                        (sim[(d, s)] for s in selected), default=0.0
                    )),
                    d,
                ),
            )
            ms = max((sim[(best, s)] for s in selected), default=0.0)
            want[rank] = (best, 0.5 * rel[best] - 0.5 * ms)
            selected.append(best)
            remaining.remove(best)
        assert got == want

    check()


def test_arrow_doc_stats_edge_semantics(spark):
    """mapInArrow stats: multibyte chars (bytes != chars), whitespace
    runs, edge whitespace, and the empty/whitespace-only zero-word
    guard."""
    from cellphe_data_pipeline_spark.operators.text import arrow_doc_stats

    rows = [
        (1, "a  b"),       # inner run collapses -> 2 words
        (2, " x y "),      # edge whitespace -> 2 words, 5 chars
        (3, ""),           # empty -> 0 words
        (4, "   "),        # whitespace-only -> 0 words
        (5, "héllo"),      # é is 2 bytes utf-8 -> 5 chars, 6 bytes
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_chars"], r["n_bytes"], r["n_words"])
        for r in arrow_doc_stats(df).collect()
    }
    assert got == {
        1: (4, 4, 2),
        2: (5, 5, 2),
        3: (0, 0, 0),
        4: (3, 3, 0),
        5: (5, 6, 1),
    }


def test_v19_untouched_lists_not_rewritten(spark, sf_dir, tmp_path):
    """The v19 delete's file discipline on a fixture: only lists
    containing deleted vectors are rewritten; other list partitions
    keep their exact files (names + sizes + mtimes)."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.scale import (
        overwrite_partitions_dynamic,
    )

    d = str(tmp_path / "bucket")
    rows = [(i, float(i), 1.0, i % 4) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, emb double, norm double, list_id bigint"
    )
    df.write.mode("overwrite").partitionBy("list_id").parquet(d)

    def snap(lists):
        out = {}
        for li in lists:
            p = os.path.join(d, f"list_id={li}")
            out[li] = sorted(
                (f, os.path.getsize(os.path.join(p, f)),
                 os.path.getmtime(os.path.join(p, f)))
                for f in os.listdir(p) if f.endswith(".parquet")
            )
        return out

    before = snap(range(4))
    # delete ids living only in lists 0 and 2
    deleted = spark.createDataFrame(
        [(0,), (8,), (2,), (10,)], "vec_id bigint"
    )
    bucket = spark.read.parquet(d)
    affected = [0, 2]
    survivors = bucket.filter(F.col("list_id").isin(affected)).join(
        F.broadcast(deleted), "vec_id", "left_anti"
    )
    from cellphe_data_pipeline_spark.checkpoint import cut_lineage

    survivors = cut_lineage(survivors, eager=True, name="v19-test")
    overwrite_partitions_dynamic(survivors, d, ["list_id"])
    after = snap(range(4))
    assert after[1] == before[1] and after[3] == before[3]  # untouched
    refreshed = spark.read.parquet(d)
    assert refreshed.join(deleted, "vec_id").count() == 0
    assert refreshed.count() == 36


def test_ivf_delete_ids_removes_fully_emptied_lists(spark, tmp_path):
    """r12 (e30 kernel): dynamic partition overwrite only replaces
    partitions the write produces rows for — a list whose EVERY vector
    is deleted must be removed explicitly or its old files silently
    resurrect the deleted ids. Pin both paths: partial list rewritten,
    emptied list gone from disk and from reads."""
    import os

    from cellphe_data_pipeline_spark.operators.similarity import ivf_delete_ids

    bucket_dir = str(tmp_path / "bucket")
    spark.createDataFrame(
        [(1, 0, 1.0), (2, 0, 2.0), (3, 1, 3.0), (4, 1, 4.0), (5, 2, 5.0)],
        "vec_id bigint, list_id int, v double",
    ).write.partitionBy("list_id").parquet(bucket_dir)

    # list 0 fully deleted, list 1 partially, list 2 untouched
    deleted = spark.createDataFrame([(1,), (2,), (3,)], "vec_id bigint")
    info = ivf_delete_ids(spark, bucket_dir, deleted)
    assert info["affected_lists"] == [0, 1]
    assert info["emptied_lists"] == [0]
    assert not os.path.exists(os.path.join(bucket_dir, "list_id=0"))
    got = {
        (r["vec_id"], r["list_id"])
        for r in spark.read.parquet(bucket_dir).collect()
    }
    assert got == {(4, 1), (5, 2)}

    # deleting absent ids is a no-op (the idempotent-replay leg)
    info2 = ivf_delete_ids(spark, bucket_dir, deleted)
    assert info2 == {"affected_lists": [], "emptied_lists": []}
    assert spark.read.parquet(bucket_dir).count() == 2


def test_pack_samples_nosplit_hand_case(spark):
    """r12 (c25): next-fit no-split semantics on a hand fixture —
    fit, overflow to a new bin, oversize truncated in its own bin,
    zero-token docs dropped."""
    from cellphe_data_pipeline_spark.operators.text import (
        pack_samples_nosplit,
    )

    # token counts with the BPE-ish estimator: "a b c" -> 3 tokens
    def words(n, w="tok"):
        return " ".join([w] * n)

    rows = [
        (1, "s", words(6)),    # bin 0: fill 6
        (2, "s", words(3)),    # bin 0: fill 9
        (3, "s", words(2)),    # overflow (9+2>10) -> bin 1: fill 2
        (4, "s", words(15)),   # oversize -> bin 2 alone, truncated
        (5, "s", ""),          # zero tokens -> dropped
        (6, "s", words(10)),   # exactly capacity -> bin 3
        (7, "t", words(4)),    # separate stream packs independently
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    got = {
        r["doc_id"]: (
            r["stream"], r["bin_id"], r["tok_start"], r["tok_end"], r["truncated"]
        )
        for r in pack_samples_nosplit(df, window_tokens=10).collect()
    }
    assert got == {
        1: ("s", 0, 0, 5, False),
        2: ("s", 0, 6, 8, False),
        3: ("s", 1, 0, 1, False),
        4: ("s", 2, 0, 9, True),
        6: ("s", 3, 0, 9, False),
        7: ("t", 0, 0, 3, False),
    }


def test_pack_samples_nosplit_matches_python_fold(spark):
    """r12 (c25): property vs a python reference fold over random
    per-stream token multisets — bin assignment, offsets, truncation,
    and the never-straddle invariant (tok_end < capacity; whole doc in
    one bin)."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.text import (
        pack_samples_nosplit,
    )

    @settings(max_examples=6, deadline=None)
    @given(st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 13)),
        min_size=1, max_size=14,
    ))
    def check(specs):
        W = 8
        rows = [
            (i, s, " ".join(["w"] * n)) for i, (s, n) in enumerate(specs)
        ]
        df = spark.createDataFrame(
            rows, "doc_id bigint, source string, text string"
        )
        got = {
            r["doc_id"]: (r["bin_id"], r["tok_start"], r["tok_end"], r["truncated"])
            for r in pack_samples_nosplit(df, window_tokens=W).collect()
        }
        want = {}
        for stream in ("a", "b"):
            bin_id, fill = -1, W
            for i, (s, n) in enumerate(specs):
                if s != stream or n == 0:
                    continue
                eff = min(n, W)
                if fill + eff <= W:
                    start, fill = fill, fill + eff
                else:
                    bin_id, start, fill = bin_id + 1, 0, eff
                want[i] = (bin_id, start, start + eff - 1, n > W)
        assert got == want, (specs, got, want)
        assert all(te < W for (_, _, te, _) in got.values())

    check()


def test_minhash_spread_gated_on_scan_parallelism(spark):
    """r17 (verdict item 3): the doc-side repartition before shingling
    exists ONLY to repair small-file scan parallelism — an input that
    already has >= defaultParallelism partitions must NOT pay a
    full-corpus text shuffle for it (identity return), while a
    single-partition input (the bench's one-file corpus) still
    triggers the keyed spread; and gating changes no results."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        _spread_docs,
        minhash_near_duplicates,
    )

    rows = [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared common words") for i in range(40)]
    para = spark.sparkContext.defaultParallelism

    wide = spark.createDataFrame(rows, "doc_id bigint, text string").repartition(
        max(para, 8)
    ).localCheckpoint(eager=True)
    assert wide.rdd.getNumPartitions() >= para
    # identity: no shuffle bought when scan parallelism is real
    assert _spread_docs(wide, "doc_id") is wide

    narrow = spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).localCheckpoint(eager=True)
    assert narrow.rdd.getNumPartitions() == 1
    spread = _spread_docs(narrow, "doc_id")
    assert spread is not narrow
    assert "RepartitionByExpression" in spread._jdf.queryExecution().optimizedPlan().toString()
    assert spread.rdd.getNumPartitions() == para

    # and the gated form changes no results
    got_wide = {
        (r["doc_a"], r["doc_b"]) for r in minhash_near_duplicates(wide).collect()
    }
    got_narrow = {
        (r["doc_a"], r["doc_b"]) for r in minhash_near_duplicates(narrow).collect()
    }
    assert got_wide == got_narrow


def test_minhash_verify_hash_shortcircuit_matches_intersect(spark):
    """r17 (verdict item 5): the verify's equal-set short-circuit
    (precomputed xxhash64 witness + size and first-element compares)
    must change no values — identical docs still score jaccard 1.0,
    near-dups still take the intersect path, and the family
    (d3/d10/d14) agrees pair-for-pair with the always-intersect oracle
    expression."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        containment_near_duplicates,
        incremental_near_duplicates,
        minhash_near_duplicates,
    )

    boiler = " ".join(f"w{i} common shared tokens" for i in range(12))
    rows = (
        [(i, boiler) for i in range(1, 5)]                       # 4 exact copies
        + [(10, boiler + " extra tail words appended here")]     # near-dup
        + [(20, "entirely different content nothing shared at all here")]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_near_duplicates(df, band_size=2).collect()
    }
    # all 6 copy pairs exact 1.0 (short-circuit path)
    for a in range(1, 5):
        for b in range(a + 1, 5):
            assert got[(a, b)] == 1.0
    # the near-dup rides the intersect path with a real fraction
    assert any(a == 10 or b == 10 for (a, b) in got)
    for (a, b), j in got.items():
        if 10 in (a, b) and a != b and (a in range(1, 5) or b in range(1, 5)):
            assert 0.0 < j < 1.0
    assert not any(20 in p for p in got)

    # incremental: re-ingesting an identical doc (the common daily case)
    inc = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in incremental_near_duplicates(
            df.filter("doc_id <= 4"), df.filter("doc_id > 4"), band_size=2
        ).collect()
    }
    assert all(j < 1.0 for j in inc.values())  # only the near-dup crosses
    new_side = spark.createDataFrame([(99, boiler)], "doc_id bigint, text string")
    inc2 = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in incremental_near_duplicates(
            df.filter("doc_id <= 4"), new_side, band_size=2
        ).collect()
    }
    assert inc2 == {(a, 99): 1.0 for a in range(1, 5)}

    # containment: identical docs are containment 1.0 with n_inter = |A|
    cont = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["containment"])
        for r in containment_near_duplicates(df).collect()
    }
    toks = boiler.split()
    n_sh = len({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
    for a in range(1, 5):
        for b in range(a + 1, 5):
            ni, c = cont[(a, b)]
            assert c == 1.0 and ni == n_sh


def test_equal_set_witness_falls_through_on_forced_hash_collision(spark):
    """The shared verify witness (``_verify_intersection_size``) trusts a
    hash match only together with equal sizes AND equal first elements:
    two different, equal-size sets given the SAME forced hash still get
    ``size(array_intersect)``, equal sets get their size, and empty sets
    (no first element) take the intersect arm without an error."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.dedup import _verify_intersection_size

    rows = [
        (["a", "b", "c"], ["x", "b", "c"]),  # different first element
        (["a", "b", "c"], ["a", "y", "z"]),  # same first element, rest differ
        (["a", "b", "c"], ["a", "b", "c"]),  # equal sets
        ([], []),  # empty sets
    ]
    df = spark.createDataFrame(rows, "_sa array<string>, _sb array<string>").select(
        "*", F.lit(7).cast("long").alias("_hha"), F.lit(7).cast("long").alias("_hhb")
    )
    got = [r["n"] for r in df.select(_verify_intersection_size().alias("n")).collect()]
    # row 2 is the stated residual: a forced collision between sets that
    # also share size and first element is trusted
    assert got == [2, 3, 3, 0]
    # and with distinct hashes every row is the real intersection
    real = df.select(
        F.size(F.array_intersect("_sa", "_sb")).alias("n")
    ).collect()
    assert [r["n"] for r in real] == [2, 1, 3, 0]
