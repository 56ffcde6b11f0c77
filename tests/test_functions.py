"""Unit tests mirroring the reference's five mocked test modules
(SURVEY.md §5.1): embedder shapes/determinism, reranker selection +
fallback, ATC7 regex, mention detection."""

from __future__ import annotations

import importlib.util
import random
from pathlib import Path

import numpy as np
import pytest

from omop_concept_automapper_spark.functions.embedder import (
    EMBED_DIM,
    _code_hash,
    embed_one,
    embed_texts,
)
from omop_concept_automapper_spark.functions.mentions import (
    compile_lexicon,
    detect_mentions_py,
)
from omop_concept_automapper_spark.functions.reranker import (
    confidence_from_score,
    rerank_select,
)


class TestEmbedder:
    def test_shape_and_dtype(self):
        out = embed_texts(["metformin", "hypertension", ""])
        assert out.shape == (3, EMBED_DIM)
        assert out.dtype == np.float32

    def test_l2_normalized(self):
        v = embed_one("type 2 diabetes mellitus")
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5

    def test_deterministic(self):
        a = embed_texts(["aspirin 81 mg oral tablet"] * 2)
        b = embed_texts(["aspirin 81 mg oral tablet"])
        assert np.array_equal(a[0], a[1])
        assert np.array_equal(a[0], b[0])

    def test_similarity_orders_like_overlap(self):
        q, near, far = embed_texts(
            ["metformin 500 mg tablet", "metformin 500 mg oral tablet",
             "cardiac pacemaker device"]
        )
        assert float(q @ near) > float(q @ far)

    def test_empty_is_zero_vector(self):
        assert float(np.abs(embed_one("")).sum()) == 0.0

    def test_batch_equals_one_at_a_time_bit_for_bit(self):
        """``embed_texts`` rows are ``embed_one`` byte for byte: random
        Unicode (lone surrogates included), None, numbers, empty and
        whitespace-only text, and the benchmark's wide vocabulary names.
        A padded empty string, an unpadded blank one or a float32 sum would
        each change some row's bytes."""
        spec = importlib.util.spec_from_file_location(
            "perfbench_gen", Path(__file__).parents[1] / "perfbench" / "gen.py"
        )
        gen = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gen)
        rng = random.Random(13)
        planes = [(32, 126), (0x80, 0x7FF), (0xD800, 0xDFFF), (0x800, 0x10FFFF)]

        def rand_text():
            return "".join(
                chr(rng.randint(*rng.choice(planes)))
                for _ in range(rng.randint(0, 24))
            )

        texts = [rand_text() for _ in range(2000)]
        texts += [None, 0, 7, -12, 3.25, "", " ", "  \t ", "A", "ab", "abc"]
        texts += [r[1] for r in gen.wide_vocabulary(1, 8000)]
        rng.shuffle(texts)
        as_text = [
            t if isinstance(t, str) else ("" if t is None else str(t))
            for t in texts
        ]
        want = np.stack([embed_one(t) for t in as_text])
        assert embed_texts(texts).tobytes() == want.tobytes()
        # batch composition does not matter either
        assert embed_texts(texts[:7]).tobytes() == want[:7].tobytes()
        assert embed_texts([]).shape == (0, EMBED_DIM)

    def test_ngram_cache_stays_bounded(self):
        rng = random.Random(5)
        alphabet = [chr(c) for c in range(33, 127)]  # ~830k distinct 3-grams
        texts = ["".join(rng.choices(alphabet, k=40)) for _ in range(4000)]
        embed_texts(texts)
        info = _code_hash.cache_info()
        assert info.maxsize == 1 << 16
        assert info.misses > info.maxsize  # the batch outgrew the cache...
        assert info.currsize <= info.maxsize  # ...which stayed in bounds


class TestReranker:
    def test_exact_match_confidence_10(self):
        sel, conf = rerank_select("acute bronchitis", ["chronic sinusitis",
                                                       "acute bronchitis"])
        assert (sel, conf) == (1, 10)

    def test_reordered_tokens_confidence_10(self):
        sel, conf = rerank_select("bronchitis acute", ["acute bronchitis"])
        assert (sel, conf) == (0, 10)

    def test_empty_candidates_returns_none(self):
        # reference reranker.py:45-49 — empty list -> None
        assert rerank_select("anything", []) is None

    def test_tie_break_first_index(self):
        sel, _ = rerank_select("zzz", ["aaa", "bbb"])  # both score 0
        assert sel == 0

    def test_no_overlap_confidence_1(self):
        _, conf = rerank_select("quantum flux", ["acute bronchitis"])
        assert conf == 1

    @pytest.mark.parametrize(
        "score,expected", [(0.0, 1), (0.5, 6), (0.722, 7), (0.7223, 8), (1.0, 10)]
    )
    def test_confidence_mapping(self, score, expected):
        assert confidence_from_score(score) == expected


class TestJvmDetectorParity:
    def test_jvm_equals_python_kernel_on_fixture_corpus(self, spark):
        from omop_concept_automapper_spark.fixtures.transcripts import (
            transcripts_dataframe,
        )
        from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
        from omop_concept_automapper_spark.plans.mentions import (
            extract_mention_occurrences,
        )

        t = transcripts_dataframe(spark, n_conversations=60)
        forms = [e["mention_text"] for e in build_lexicon()]
        jvm = extract_mention_occurrences(t, forms, use_jvm=True)
        py = extract_mention_occurrences(t, forms, use_jvm=False)
        assert jvm.exceptAll(py).count() == 0
        assert py.exceptAll(jvm).count() == 0
        assert jvm.count() > 0

    def test_jvm_handles_regex_metachars_and_case(self, spark):
        from omop_concept_automapper_spark.functions.mentions import (
            jvm_mention_detector,
        )

        det = jvm_mention_detector(["b12 (oral)", "A.C. inhibitor"])
        df = spark.createDataFrame(
            [("needs B12 (oral) now",), ("a.c. inhibitor dose",), ("abc",)],
            "text string",
        )
        out = [list(r[0]) for r in df.select(det("text")).collect()]
        assert out == [["b12 (oral)"], ["A.C. inhibitor"], []]


class TestTokenGazetteer:
    def test_equivalent_to_regex_on_fixture_corpus(self):
        from omop_concept_automapper_spark.fixtures.transcripts import (
            generate_transcript_rows,
        )
        from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
        from omop_concept_automapper_spark.functions.mentions import (
            compile_token_gazetteer,
            detect_mentions_tokens,
        )

        forms = [e["mention_text"] for e in build_lexicon()]
        pattern, canon = compile_lexicon(forms)
        heads, tcanon = compile_token_gazetteer(forms)
        for row in generate_transcript_rows(40):
            text = row[3]
            assert detect_mentions_py(text, pattern, canon) == (
                detect_mentions_tokens(text, heads, tcanon)
            )

    def test_longest_match_and_skip(self):
        from omop_concept_automapper_spark.functions.mentions import (
            compile_token_gazetteer,
            detect_mentions_tokens,
        )

        heads, canon = compile_token_gazetteer(
            ["type 2 diabetes mellitus", "diabetes mellitus", "mellitus care"]
        )
        # longest wins at the start position; tokens inside the accepted
        # match are consumed (mirrors regex finditer non-overlap)
        out = detect_mentions_tokens(
            "has type 2 diabetes mellitus care plan", heads, canon
        )
        assert out == ["type 2 diabetes mellitus"]

    def test_documented_separator_looseness(self):
        """Token matching ignores punctuation separators — looser than the
        regex detector (documented divergence, not a parity surface)."""
        from omop_concept_automapper_spark.functions.mentions import (
            compile_token_gazetteer,
            detect_mentions_tokens,
        )

        heads, canon = compile_token_gazetteer(["acute bronchitis"])
        pattern, rcanon = compile_lexicon(["acute bronchitis"])
        text = "acute-bronchitis noted"
        assert detect_mentions_tokens(text, heads, canon) == ["acute bronchitis"]
        assert detect_mentions_py(text, pattern, rcanon) == []


class TestMentionDetection:
    def test_longest_match_wins(self):
        pattern, canon = compile_lexicon(
            ["type 2 diabetes mellitus", "diabetes mellitus"]
        )
        found = detect_mentions_py(
            "history of type 2 diabetes mellitus noted", pattern, canon
        )
        assert found == ["type 2 diabetes mellitus"]

    def test_word_boundaries(self):
        pattern, canon = compile_lexicon(["asthma"])
        assert detect_mentions_py("pseudoasthmatic", pattern, canon) == []
        assert detect_mentions_py("has asthma.", pattern, canon) == ["asthma"]

    def test_empty_lexicon_matches_nothing(self):
        pattern, canon = compile_lexicon([])
        assert detect_mentions_py("anything at all", pattern, canon) == []

    def test_single_candidate_selected(self):
        # mirrors reference test_reranker single-candidate case
        assert rerank_select("acute bronchitis", ["acute bronchitis"]) == (0, 10)

    def test_sorted_distinct(self):
        pattern, canon = compile_lexicon(["asthma", "migraine"])
        found = detect_mentions_py(
            "migraine and asthma and migraine", pattern, canon
        )
        assert found == ["asthma", "migraine"]


class TestLargeLexiconTokenPath:
    """The >1k-form production detector path (round-2 verdict ask #2)."""

    def test_autoselect_picks_token_path(self):
        from omop_concept_automapper_spark.fixtures.large_lexicon import (
            build_large_lexicon,
        )
        from omop_concept_automapper_spark.plans.mentions import (
            _TOKEN_PATH_THRESHOLD,
        )

        assert len(build_large_lexicon()) > _TOKEN_PATH_THRESHOLD

    def test_token_and_regex_kernels_agree_on_large_fixture(self):
        from omop_concept_automapper_spark.fixtures.large_lexicon import (
            build_large_lexicon,
            large_lexicon_texts,
        )
        from omop_concept_automapper_spark.functions.mentions import (
            compile_lexicon,
            compile_token_gazetteer,
            detect_mentions_py,
            detect_mentions_tokens,
        )

        forms = [e["mention_text"] for e in build_large_lexicon()]
        heads, tcanon = compile_token_gazetteer(forms)
        pattern, rcanon = compile_lexicon(forms)
        n_hits = 0
        for (_conv, _turn, text) in large_lexicon_texts(400):
            tok = detect_mentions_tokens(text, heads, tcanon)
            rex = detect_mentions_py(text, pattern, rcanon)
            assert tok == rex
            n_hits += len(tok)
        assert n_hits > 100  # the fixture really exercises detection
