"""Decontamination: zero false negatives, min_hits thresholding, FP bound."""

import pytest
from pyspark.sql import functions as F

from poppy_spark.spark.decontam import contamination_flags, decontaminate


@pytest.fixture(scope="module")
def corpora(spark):
    # eval: 20 docs of distinctive 12-word sentences
    ev = [
        (i, " ".join(f"evalword{i}x{j}" for j in range(12))) for i in range(20)
    ]
    # train: 50 clean docs, 10 docs embedding a full eval sentence, 5 docs
    # sharing only a 4-word fragment (below k=8 -> NOT contaminated)
    clean = [
        (100 + i, " ".join(f"trainword{i}y{j}" for j in range(30))) for i in range(50)
    ]
    dirty = [
        (200 + i, "prefix words here " + ev[i][1] + " suffix words there")
        for i in range(10)
    ]
    frag = [
        (300 + i, " ".join(f"fragment{i}z{j}" for j in range(10))
         + " " + " ".join(f"evalword{i}x{j}" for j in range(4)))
        for i in range(5)
    ]
    evdf = spark.createDataFrame(ev, "doc_id bigint, text string")
    trdf = spark.createDataFrame(clean + dirty + frag, "doc_id bigint, text string")
    return evdf, trdf


class TestContamination:
    def test_zero_false_negatives(self, corpora):
        evdf, trdf = corpora
        out = contamination_flags(trdf, evdf, "text", "doc_id", k=8)
        flagged = {r["doc_id"] for r in out.filter("contaminated").collect()}
        assert set(range(200, 210)) <= flagged  # every truly dirty doc caught

    def test_fragments_below_k_not_flagged(self, corpora):
        evdf, trdf = corpora
        out = contamination_flags(trdf, evdf, "text", "doc_id", k=8)
        flagged = {r["doc_id"] for r in out.filter("contaminated").collect()}
        assert not flagged & set(range(300, 305))

    def test_fp_overflag_bounded(self, corpora):
        evdf, trdf = corpora
        out = contamination_flags(trdf, evdf, "text", "doc_id", k=8, fpp=1e-6)
        flagged = {r["doc_id"] for r in out.filter("contaminated").collect()}
        # at fpp=1e-6 over ~hundreds of probes, expected FPs ~ 0
        assert flagged == set(range(200, 210))

    def test_min_hits_threshold(self, corpora):
        evdf, trdf = corpora
        # a 12-word eval sentence inside a train doc yields 5 matching
        # 8-grams; min_hits=6 must clear every doc
        out = contamination_flags(trdf, evdf, "text", "doc_id", k=8, min_hits=6)
        assert out.filter("contaminated").count() == 0

    def test_counts_columns(self, corpora):
        evdf, trdf = corpora
        out = contamination_flags(trdf, evdf, "text", "doc_id", k=8)
        r = out.filter(F.col("doc_id") == 200).collect()[0]
        # 12-word eval span inside an 18-word doc: hits = 12 - 8 + 1 = 5
        assert r["n_hits"] == 5
        assert r["n_shingles"] == 18 - 8 + 1

    def test_decontaminate_removes_and_keeps(self, corpora):
        evdf, trdf = corpora
        clean = decontaminate(trdf, evdf, "text", "doc_id", k=8)
        ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
        assert ids == set(range(100, 150)) | set(range(300, 305))
        assert clean.columns == trdf.columns

    def test_eval_rows_evaluated_once(self, spark, corpora):
        """The eval-set shingles are computed once per call (the sizing
        count fills the cache the filter build reads), and the returned
        plan reads only the filter bytes: the caller's action evaluates
        no eval row again."""
        evdf, trdf = corpora
        seen = spark.sparkContext.accumulator(0)

        def count(text):
            seen.add(1)
            return text

        counted = evdf.select("doc_id", F.udf(count, "string")("text").alias("text"))
        out = contamination_flags(trdf, counted, "text", "doc_id", k=8)
        assert seen.value == evdf.count()
        flagged = {r["doc_id"] for r in out.filter("contaminated").collect()}
        assert flagged == set(range(200, 210))
        assert seen.value == evdf.count()


class TestRemoveContaminatedSpans:
    def _brute(self, train, ev_texts, span_words):
        """Per-doc brute-force excision in plain Python (the semantics)."""
        def words(t):
            return [w for w in t.lower().split() if w]
        ev_spans = set()
        for t in ev_texts:
            w = words(t)
            for i in range(max(len(w) - span_words + 1, 0)):
                ev_spans.add(tuple(w[i : i + span_words]))
        out = {}
        for did, t in train:
            w = words(t)
            covered = set()
            for i in range(max(len(w) - span_words + 1, 0)):
                if tuple(w[i : i + span_words]) in ev_spans:
                    covered.update(range(i, i + span_words))
            out[did] = " ".join(w[i] for i in range(len(w)) if i not in covered)
        return out

    @pytest.mark.parametrize("prefilter", [True, False])
    def test_matches_brute_force(self, spark, corpora, prefilter):
        from poppy_spark.spark.decontam import remove_contaminated_spans

        evdf, trdf = corpora
        k = 8
        got = {
            r["doc_id"]: r["text"]
            for r in remove_contaminated_spans(
                trdf, evdf, "text", "doc_id", span_words=k, prefilter=prefilter
            ).collect()
        }
        train = [(r["doc_id"], r["text"]) for r in trdf.collect()]
        ev_texts = [r["text"] for r in evdf.collect()]
        want = self._brute(train, ev_texts, k)
        assert got == want
        # dirty docs actually lost their planted eval sentence
        for did in range(200, 210):
            assert "evalword" not in got[did]
            assert got[did].startswith("prefix words here")
        # clean docs byte-identical (already lowercase single-space)
        for did in range(100, 150):
            assert got[did] == dict(train)[did].lower()

    def test_stride_consistent_and_overlap(self, spark):
        from poppy_spark.spark.decontam import remove_contaminated_spans

        ev = spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")],
            "doc_id bigint, text string",
        )
        # overlapping contaminated windows + a doc that is ALL contamination
        tr = spark.createDataFrame(
            [
                (1, "x alpha beta gamma delta epsilon zeta y"),
                (2, "alpha beta gamma delta epsilon zeta"),
                (3, "no overlap at all here friend"),
            ],
            "doc_id bigint, text string",
        )
        got = {
            r["doc_id"]: r["text"]
            for r in remove_contaminated_spans(
                tr, ev, "text", "doc_id", span_words=3
            ).collect()
        }
        assert got[1] == "x y"
        assert got[2] == ""
        assert got[3] == "no overlap at all here friend"
