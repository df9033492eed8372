"""Repetition-filter + decontamination operator semantics (training-data
quality ops beyond the generic text battery)."""

from __future__ import annotations

import pytest

from skope_api_spark.operators.text import decontaminate, repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestRepetitionStats:
    def test_boilerplate_scores_high(self, spark):
        out = {
            r.doc_id: (r.top2gram_frac, r.dup3gram_frac)
            for r in repetition_stats(
                _docs(
                    spark,
                    [
                        # "buy now" 2-gram covers 8 of 8 tokens
                        (1, "buy now buy now buy now buy now"),
                        (2, "all tokens here are fully distinct words"),
                    ],
                )
            ).collect()
        }
        top2, dup3 = out[1]
        assert top2 == pytest.approx(1.0)  # degenerate spam doc
        assert dup3 > 0.5  # "buy now buy" / "now buy now" repeat
        top2_clean, dup3_clean = out[2]
        assert top2_clean == pytest.approx(2 / 7, abs=1e-4)  # no repeated 2-gram
        assert dup3_clean == 0.0

    def test_short_docs_yield_null_not_crash(self, spark):
        """sequence(1, 0) DESCENDS in Spark — unguarded gram construction
        indexed past the token array on 1-2-token docs. Docs too short for
        an n-gram get NULL fractions (DuckDB-oracle parity: 0/0 → NULL)."""
        out = {
            r.doc_id: (r.top2gram_frac, r.dup3gram_frac)
            for r in repetition_stats(
                _docs(spark, [(1, "hello"), (2, "two words"), (3, "")])
            ).collect()
        }
        assert out[1] == (None, None)
        assert out[2] == (1.0, None)  # one 2-gram covers 100%; no 3-gram
        assert out[3] == (None, None)

    def test_no_shuffle_in_plan(self, spark):
        plan = (
            repetition_stats(_docs(spark, [(1, "a b c d e")]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # per-row math stays in the scan


class TestDecontaminate:
    def test_flags_only_probe_overlap(self, spark):
        corpus = _docs(
            spark,
            [
                (10, "the quick brown fox jumps high"),  # shares "quick brown fox"
                (11, "совершенно unrelated text entirely different"),
            ],
        )
        probes = _docs(spark, [(1, "a quick brown fox appears")])
        got = {r.doc_id: r.n_shared_grams for r in decontaminate(corpus, probes).collect()}
        assert got == {10: 1}


class TestChunkDocuments:
    def test_windows_overlap_and_cover(self, spark):
        from skope_api_spark.operators.text import chunk_documents

        text = " ".join(f"t{i}" for i in range(10))
        rows = chunk_documents(
            _docs(spark, [(1, text)]), chunk_tokens=4, overlap=2
        ).collect()
        # stride 2 → starts 0,2,4,6: 4 chunks, last one length 4 ends at t9
        assert [r.chunk_id for r in rows] == [0, 1, 2, 3]
        assert all(r.n_chunks == 4 for r in rows)
        assert rows[0].chunk_text == "t0 t1 t2 t3"
        assert rows[1].chunk_text == "t2 t3 t4 t5"
        assert rows[3].chunk_text == "t6 t7 t8 t9"
        assert [r.n_chunk_tokens for r in rows] == [4, 4, 4, 4]

    def test_short_doc_single_chunk(self, spark):
        from skope_api_spark.operators.text import chunk_documents

        rows = chunk_documents(
            _docs(spark, [(1, "a b"), (2, "only")]), chunk_tokens=4, overlap=1
        ).collect()
        by_id = {r.doc_id: r for r in rows}
        assert len(rows) == 2
        assert by_id[1].chunk_text == "a b" and by_id[1].n_chunks == 1
        assert by_id[2].n_chunk_tokens == 1

    def test_tail_chunk_shorter_never_contained(self, spark):
        from skope_api_spark.operators.text import chunk_documents

        # 5 tokens, window 4, stride 3 → chunks [0:4], [3:5] (tail len 2)
        rows = chunk_documents(
            _docs(spark, [(1, "a b c d e")]), chunk_tokens=4, overlap=1
        ).collect()
        assert [r.chunk_text for r in rows] == ["a b c d", "d e"]

    def test_bad_overlap_raises(self, spark):
        from skope_api_spark.operators.text import chunk_documents

        with pytest.raises(ValueError):
            chunk_documents(_docs(spark, [(1, "a")]), chunk_tokens=4, overlap=4)


class TestBoilerplateNgrams:
    def test_doc_freq_counts_documents_not_occurrences(self, spark):
        from skope_api_spark.operators.text import boilerplate_ngrams

        docs = _docs(
            spark,
            [
                # the boilerplate phrase appears TWICE in doc 1 — still
                # counts once per doc
                (1, "all rights reserved x all rights reserved"),
                (2, "all rights reserved y z"),
                (3, "completely unrelated body text"),
            ],
        )
        rows = boilerplate_ngrams(docs, shingle_n=3, top_k=2).collect()
        assert rows[0].gram == "all rights reserved"
        assert rows[0].doc_freq == 2
        assert rows[0].doc_frac == pytest.approx(round(2 / 3, 4))


class TestDomainProfile:
    def test_extract_and_blocklist(self, spark):
        from skope_api_spark.operators.text import domain_profile

        docs = _docs(
            spark,
            [
                (1, "see https://good.example.com/a and http://bad.example.org/x"),
                (2, "again https://good.example.com/b no others"),
                (3, "plain text without links"),
            ],
        )
        rows = {
            r.domain: r
            for r in domain_profile(
                docs, blocklist=("bad.example.org",)
            ).collect()
        }
        assert rows["good.example.com"].n_docs == 2
        assert rows["good.example.com"].n_urls == 2
        assert not rows["good.example.com"].blocked
        assert rows["bad.example.org"].blocked


class TestBigramLogprob:
    def test_hand_computed_interpolation(self, spark):
        import math

        from skope_api_spark.operators.text import bigram_logprob

        # single doc "x y x y x": pairs xy,yx,xy,yx; uni x:3 y:2 T=5
        rows = bigram_logprob(_docs(spark, [(1, "x y x y x")])).collect()
        assert len(rows) == 1 and rows[0].n_scored == 4
        lp_xy = math.log(0.8 * (2 / 3) + 0.2 * (2 / 5))
        lp_yx = math.log(0.8 * (2 / 2) + 0.2 * (3 / 5))
        expect = round((2 * lp_xy + 2 * lp_yx) / 4, 6)
        assert rows[0].mean_logprob == pytest.approx(expect, abs=1e-6)

    def test_disfluent_doc_scores_lower(self, spark):
        from skope_api_spark.operators.text import bigram_logprob

        # corpus dominated by the "a b" bigram; doc 9 uses the same
        # unigrams in an order the corpus never rewards
        docs = _docs(
            spark,
            [(i, "a b a b a b a b") for i in range(8)]
            + [(9, "b a a b b a a a")],
        )
        out = {r.doc_id: r.mean_logprob for r in bigram_logprob(docs).collect()}
        assert out[9] < out[0]

    def test_single_token_doc_has_no_rows(self, spark):
        from skope_api_spark.operators.text import bigram_logprob

        assert bigram_logprob(_docs(spark, [(1, "solo")])).count() == 0


class TestChunkInvariants:
    """Reconstruction law: dropping the first `overlap` tokens of every
    chunk after the first and concatenating reproduces the document
    exactly — checked across a (chunk_tokens, overlap) grid and every doc
    length 1..40 in one Spark job per parameter set."""

    def test_reconstruction_across_param_grid(self, spark):
        from skope_api_spark.operators.text import chunk_documents

        docs = [
            (n, " ".join(f"t{n}_{j}" for j in range(n))) for n in range(1, 41)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for ct, ov in [(4, 1), (8, 3), (5, 0), (6, 5)]:
            rows = chunk_documents(df, chunk_tokens=ct, overlap=ov).collect()
            by_doc: dict[int, list] = {}
            for r in rows:
                by_doc.setdefault(r.doc_id, []).append(r)
            assert set(by_doc) == {n for n, _ in docs}
            for n, text in docs:
                chunks = sorted(by_doc[n], key=lambda r: r.chunk_id)
                assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
                assert all(c.n_chunks == len(chunks) for c in chunks)
                # every chunk except the last is full-width
                for c in chunks[:-1]:
                    assert c.n_chunk_tokens == ct, (ct, ov, n)
                toks = chunks[0].chunk_text.split(" ")
                for c in chunks[1:]:
                    toks += c.chunk_text.split(" ")[ov:]
                assert " ".join(toks) == text, (ct, ov, n)


class TestLineFilter:
    def test_delimiter_mode_rules_and_rebuild(self, spark):
        from skope_api_spark.operators.text import line_filter

        docs = _docs(
            spark,
            [
                (1, "good line one\nx\nblocked cookie line\nfinal good line"),
                (2, "x\ny"),
            ],
        )
        out = {
            r.doc_id: r
            for r in line_filter(
                docs,
                line_delim="\n",
                min_line_tokens=2,
                blocklist=("cookie",),
                rejoin_delim="\n",
            ).collect()
        }
        assert out[1].n_lines == 4 and out[1].n_kept == 2
        assert out[1].cleaned_text == "good line one\nfinal good line"
        # fully-filtered doc keeps its row with empty text
        assert out[2].n_lines == 2 and out[2].n_kept == 0
        assert out[2].cleaned_text == ""

    def test_corpus_docfreq_drops_boilerplate_everywhere(self, spark):
        from skope_api_spark.operators.text import line_filter

        nav = "home about contact"
        docs = _docs(
            spark,
            [
                (1, f"{nav}\nunique body one"),
                (2, f"{nav}\nunique body two"),
                (3, f"{nav}\nunique body three"),
            ],
        )
        out = {
            r.doc_id: r.cleaned_text
            for r in line_filter(docs, line_delim="\n", max_line_docfreq=2).collect()
        }
        assert out == {
            1: "unique body one",
            2: "unique body two",
            3: "unique body three",
        }

    def test_token_chunk_mode_preserves_order(self, spark):
        from skope_api_spark.operators.text import line_filter

        docs = _docs(spark, [(1, "a b c d e f g")])
        row = line_filter(docs, tokens_per_line=3).collect()[0]
        # chunks: "a b c" / "d e f" / "g" — no filters, identity rebuild
        assert row.n_lines == 3 and row.n_kept == 3
        assert row.cleaned_text == "a b c d e f g"

    def test_both_line_modes_rejected(self, spark):
        from skope_api_spark.operators.text import line_filter

        with pytest.raises(ValueError, match="at most one"):
            line_filter(_docs(spark, [(1, "x")]), line_delim="\n", tokens_per_line=3)

    def test_regex_special_delimiters_are_literal(self, spark):
        """line_delim is documented as a LITERAL delimiter, but F.split
        takes a Java regex — '.', '|', '\\t' and even '\\E' must split
        only on themselves, not on every character."""
        from skope_api_spark.operators.text import with_doc_lines

        for delim, text, want in [
            (".", "alpha beta.gamma delta", ["alpha beta", "gamma delta"]),
            ("|", "one two|three four", ["one two", "three four"]),
            ("\t", "tab one\ttab two", ["tab one", "tab two"]),
            ("\\E", "left\\Eright", ["left", "right"]),
            ("a.c", "xxa.cyy", ["xx", "yy"]),  # 'abc' must NOT match
        ]:
            rows = (
                with_doc_lines(_docs(spark, [(1, text)]), line_delim=delim)
                .orderBy("pos")
                .collect()
            )
            assert [r.line for r in rows] == want, delim


class TestNormalizeText:
    def test_nfc_composes(self, spark):
        from skope_api_spark.operators.text import normalize_text

        df = spark.createDataFrame(
            [(1, "Café"), (2, "Café"), (3, "plain")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["text_norm"]
            for r in normalize_text(df, "text").collect()
        }
        assert out[1] == out[2] == "Caf\u00e9"
        assert out[3] == "plain"

    def test_nfkc_folds_compatibility(self, spark):
        from skope_api_spark.operators.text import normalize_text

        # ligature fi (U+FB01) folds to 'fi' under NFKC, survives NFC
        df = spark.createDataFrame([(1, "ﬁsh")], "doc_id long, text string")
        nfkc = normalize_text(df, "text", form="NFKC").first()["text_norm"]
        nfc = normalize_text(df, "text", form="NFC").first()["text_norm"]
        assert nfkc == "fish" and nfc == "ﬁsh"

    def test_validation(self, spark):
        import pytest as _pytest

        from skope_api_spark.operators.text import normalize_text

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="form"):
            normalize_text(df, "text", form="NFX")
        with _pytest.raises(ValueError, match="already exists"):
            normalize_text(df, "text", out_col="text")

    def test_dedup_motivation_hashes_align(self, spark):
        from pyspark.sql import functions as F

        from skope_api_spark.operators.text import normalize_text

        df = spark.createDataFrame(
            [(1, "Café"), (2, "Café")], "doc_id long, text string"
        )
        out = normalize_text(df, "text")
        n_distinct = out.agg(
            F.countDistinct("text").alias("raw"),
            F.countDistinct("text_norm").alias("norm"),
        ).first()
        assert n_distinct["raw"] == 2 and n_distinct["norm"] == 1


class TestKeynessLLR:
    def test_distinctive_terms_rank_first(self, spark):
        from pyspark.sql import functions as F

        from skope_api_spark.operators.text import keyness_llr

        # focus docs overuse 'cat'; both slices share 'the'
        rows = [(i, "en", "cat cat cat the the") for i in range(5)] + [
            (10 + i, "de", "dog dog dog the the") for i in range(5)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, text string"
        )
        out = keyness_llr(
            docs, F.col("lang") == "en", top_k=10, min_count=1
        ).collect()
        by = {r["token"]: r for r in out}
        # balanced term: zero keyness; exclusive terms: maximal, signed
        assert by["the"]["g2"] == pytest.approx(0.0, abs=1e-9)
        assert by["cat"]["g2"] == pytest.approx(by["dog"]["g2"])
        assert by["cat"]["signed_g2"] > 0 > by["dog"]["signed_g2"]
        assert out[0]["token"] in ("cat", "dog")  # top by G2
        assert by["cat"]["n_focus"] == 15 and by["cat"]["n_reference"] == 0

    def test_min_count_filters_rare_terms(self, spark):
        from pyspark.sql import functions as F

        from skope_api_spark.operators.text import keyness_llr

        docs = spark.createDataFrame(
            [(1, "en", "rare common common common common")],
            "doc_id long, lang string, text string",
        )
        toks = {
            r["token"]
            for r in keyness_llr(
                docs, F.col("lang") == "en", min_count=2
            ).collect()
        }
        assert "rare" not in toks and "common" in toks


class TestPiiAdjacency:
    def test_adjacent_emails_match_re2_boundary_semantics(self, spark):
        """r14 ADVICE: the lookbehind form silently skipped an email
        joined to a redacted one by a local-class char ('a@b.cc_x@d.ee').
        The consuming-boundary pattern is RE2-identical: both engines
        agree the joined token is NOT a fresh email (no boundary), and
        separated emails all redact."""
        from skope_api_spark.operators.text import redact_pii

        rows = [
            (1, "a@b.cc_x@d.ee"),
            (2, "a@b.cc x@d.ee"),
            (3, "x a@b.cc, b@c.dd!"),
            (4, "_lead@b.cc"),
        ]
        out = {
            r.doc_id: (r.clean_text, r.n_redactions)
            for r in redact_pii(_docs(spark, rows)).collect()
        }
        assert out[1] == ("<EMAIL>_x@d.ee", 1)
        assert out[2] == ("<EMAIL> <EMAIL>", 2)
        assert out[3] == ("x <EMAIL>, <EMAIL>!", 2)
        assert out[4] == ("<EMAIL>", 1)  # '_' is local-class: part of it


class TestLineCutterSplitSemantics:
    def test_matches_split_slices_on_any_whitespace(self, spark):
        """r14 ADVICE: the \\s-class regex swallowed whitespace runs;
        the literal-space form must reproduce split(' ') token slices
        exactly — empty tokens, tabs-in-tokens, leading/trailing spaces."""
        from skope_api_spark.operators.text import with_doc_lines

        hostile = ["a  b", " a b", "a b ", "a\tb c", "a   b", "  ", "x"]
        for t in (1, 2, 3):
            rows = with_doc_lines(
                _docs(spark, list(enumerate(hostile))), tokens_per_line=t
            ).collect()
            got, n_lines = {}, {}
            for r in rows:
                got.setdefault(r.doc_id, []).append((r.pos, r.line))
                n_lines[r.doc_id] = r.n_lines
            for i, s in enumerate(hostile):
                toks = s.split(" ")
                exp = [
                    " ".join(toks[j : j + t]) for j in range(0, len(toks), t)
                ]
                lines = [l for _, l in sorted(got[i])]
                assert lines == exp, (t, s)
                assert n_lines[i] == len(exp), (t, s)
