"""Tests for the training-data operators: pure-Python oracle checks for
the non-SQL-expressible ops, plus Spark-vs-pure-Python equality on the
driver's documents/embeddings tables (sf0.001)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from unraveldocs_spark import similarity, textanalysis
from unraveldocs_spark.scanfan import scan
from unraveldocs_spark.similarity import (
    LSH_BITS,
    _hyperplanes,
    brute_force_topk,
    lsh_topk,
    signature_bits,
)
from unraveldocs_spark.textanalysis import (
    hamming64,
    lang_id,
    simhash64,
    simhash_near_dupes,
    simhash_stage,
    winnow_fingerprints,
)
from unraveldocs_spark.trainingdata import (
    _JACCARD_DEN,
    _JACCARD_NUM,
    _spark_shingles,
)

SF = "/root/testdata/sf0.001"


class TestSimhashPure:
    def test_deterministic(self):
        t = "the quick brown fox jumps over the lazy dog"
        assert simhash64(t) == simhash64(t)

    def test_similar_texts_low_hamming(self):
        a = " ".join(f"word{i}" for i in range(100))
        b = a.replace("word50", "changed")
        assert hamming64(simhash64(a), simhash64(b)) <= 12

    def test_dissimilar_texts_high_hamming(self):
        a = " ".join(f"alpha{i}" for i in range(100))
        b = " ".join(f"beta{i}" for i in range(100))
        assert hamming64(simhash64(a), simhash64(b)) >= 16

    def test_empty(self):
        assert simhash64("") == 0


class TestSimhashSpark:
    def test_stage_matches_pure(self, spark):
        d = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
        texts = {r.doc_id: r.text for r in d.collect()}
        for row in simhash_stage(d).collect():
            h = simhash64(texts[row.doc_id])
            signed = h - (1 << 64) if h >= (1 << 63) else h
            assert row.simhash == signed
            assert row.band0 == (h >> 48) & 0xFFFF
            assert row.band3 == h & 0xFFFF

    def test_near_dupes_hamming_correct(self, spark, monkeypatch):
        monkeypatch.setattr(textanalysis, "SIMHASH_MAX_HAMMING", 20)
        d = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
        texts = {r.doc_id: r.text for r in d.collect()}
        got = simhash_near_dupes(d).collect()
        assert got, "expected some candidate pairs on word-soup docs"
        for row in got:
            expect = hamming64(simhash64(texts[row.doc_a]), simhash64(texts[row.doc_b]))
            assert row.hamming == expect
            assert row.hamming <= 20


class TestLangId:
    def test_english(self):
        assert lang_id("the cat and the dog sat on the mat of the king") == "en"

    def test_german(self):
        assert lang_id("der hund und die katze sind schnell und schoen ich") == "de"

    def test_chinese(self):
        assert lang_id("我是中国人我在这里他有大的") == "zh"

    def test_empty(self):
        assert lang_id("") == "und"
        assert lang_id("zzz qqq xxx") == "und"


class TestWinnowing:
    def test_deterministic(self):
        t = "some document content for fingerprinting purposes"
        assert winnow_fingerprints(t) == winnow_fingerprints(t)

    def test_short_text_empty(self):
        assert winnow_fingerprints("abc") == []

    def test_shared_content_shares_fingerprints(self):
        base = "identical shared middle section of reasonable length here"
        a = "prefix one " + base + " suffix alpha"
        b = "other start " + base + " different end"
        fa, fb = set(winnow_fingerprints(a)), set(winnow_fingerprints(b))
        assert fa & fb, "overlapping docs must share fingerprints"

    def test_disjoint_content_disjoint_fingerprints(self):
        fa = set(winnow_fingerprints("aaaa bbbb cccc dddd eeee"))
        fb = set(winnow_fingerprints("zzzz yyyy xxxx wwww vvvv"))
        assert not (fa & fb)


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF}/embeddings.parquet")

    @pytest.fixture(scope="class")
    def qvec(self, emb):
        return [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]

    def test_brute_force_matches_numpy(self, emb, qvec):
        rows = emb.filter(F.col("vec_id") != 0).collect()
        q = np.asarray(qvec)
        cos = {
            r.vec_id: float(
                np.dot(r.embedding, q)
                / (np.linalg.norm(np.asarray(r.embedding, dtype=np.float64)) * np.linalg.norm(q))
            )
            for r in rows
        }
        expect = sorted(cos, key=lambda v: (-cos[v], v))[:10]
        got = [r.vec_id for r in brute_force_topk(emb.filter(F.col("vec_id") != 0), qvec, 10).collect()]
        assert got == expect

    def test_lsh_recall(self, emb, qvec, monkeypatch):
        monkeypatch.setattr(similarity, "LSH_PROBE_HAMMING", 6)
        exact = {
            r.vec_id
            for r in brute_force_topk(emb.filter(F.col("vec_id") != 0), qvec, 10).collect()
        }
        approx = {
            r.vec_id
            for r in lsh_topk(emb.filter(F.col("vec_id") != 0), qvec).collect()
        }
        recall = len(exact & approx) / 10
        assert recall >= 0.5, f"LSH recall too low: {recall}"

    def test_signature_deterministic(self, qvec):
        planes = _hyperplanes(len(qvec), LSH_BITS)
        s1 = signature_bits(np.asarray(qvec), planes)
        s2 = signature_bits(np.asarray(qvec), planes)
        assert s1 == s2 and 0 <= s1 < (1 << 16)


class TestAnnConstants:
    def test_top_k_constant_moves_spark_and_oracle(self, spark, monkeypatch):
        """ANN_K is the one home of the ANN top-k: the registry's Spark
        builders and the SQL that oracle_sql() renders both follow it."""
        import duckdb

        import __spark_entry__ as entry

        monkeypatch.setattr(similarity, "ANN_K", 4)
        sql = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS "
            f"SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
        )
        for name in ("ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk"):
            got = sorted(tuple(r) for r in entry.queries()[name](spark, SF).collect())
            assert len(got) == 4, name
            assert got == sorted(con.execute(sql[name]).fetchall()), name


class TestMultimodal:
    def test_media_rule_moves_spark_and_oracle(self, spark, monkeypatch):
        """MEDIA_TYPES is the one home of the doc_id -> media type rule:
        reordered, the Spark rows of the four queries that read it equal
        DuckDB running the SQL oracle_sql() renders."""
        import duckdb

        import __spark_entry__ as entry
        from unraveldocs_spark import multimodal

        monkeypatch.setattr(multimodal, "MEDIA_TYPES",
                            ("video/mp4", "image/png", "audio/wav", "image/jpeg"))
        sql = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS "
            f"SELECT * FROM read_parquet('{SF}/documents.parquet')"
        )
        for name in ("multimodal_meta", "multimodal_decode", "multimodal_resize",
                     "frame_sample"):
            got = sorted(tuple(r) for r in entry.queries()[name](spark, SF).collect())
            assert got and got == sorted(con.execute(sql[name]).fetchall()), name
        assert "doc_id % 4 IN (1, 3)" in sql["multimodal_resize"]
        assert "doc_id % 4 = 0" in sql["frame_sample"]

    def test_decode_stage(self, spark):
        from unraveldocs_spark.multimodal import attach_binary_payload, decode_stage

        d = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
        out = decode_stage(attach_binary_payload(d)).collect()
        assert len(out) == 40
        assert all(r.decode_status == "COMPLETED" for r in out)
        assert all(r.payload_bytes > 0 for r in out)
        assert all(r.width >= 64 and r.height >= 64 for r in out)
        # deterministic: second run identical
        out2 = decode_stage(attach_binary_payload(d)).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, out2))

    def test_frame_sampling(self, spark):
        from unraveldocs_spark.multimodal import (
            FRAME_STRIDE,
            attach_binary_payload,
            decode_stage,
            frame_sample_stage,
        )

        d = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
        decoded = decode_stage(attach_binary_payload(d))
        frames = frame_sample_stage(decoded).collect()
        assert frames
        assert all(r.frame_no % FRAME_STRIDE == 0 for r in frames)


class TestLangIdExpr:
    def test_expr_matches_pure_python(self, spark):
        from unraveldocs_spark.textanalysis import lang_id, lang_id_expr

        d = spark.read.parquet(f"{SF}/documents.parquet")
        texts = {r.doc_id: r.text for r in d.collect()}
        got = {
            r.doc_id: r.lang_pred
            for r in d.select(
                "doc_id", lang_id_expr(F.col("text")).alias("lang_pred")
            ).collect()
        }
        for doc_id, text in texts.items():
            assert got[doc_id] == lang_id(text), doc_id

    def test_expr_on_known_samples(self, spark):
        import pandas as pd

        from unraveldocs_spark.textanalysis import lang_id_expr

        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "the cat and the dog sat on the mat of the king",
                    "der hund und die katze sind schnell und schoen ich",
                    "我是中国人我在这里他有大的",
                    "zzz qqq xxx",
                ],
            }
        )
        sdf = spark.createDataFrame(pdf)
        got = [r.lang_pred for r in sdf.select(
            "doc_id", lang_id_expr(F.col("text")).alias("lang_pred")
        ).orderBy("doc_id").collect()]
        assert got == ["en", "de", "zh", "und"]


class TestIvf:
    def test_ivf_recall(self, spark, monkeypatch):
        from unraveldocs_spark.similarity import brute_force_topk, ivf_topk

        monkeypatch.setattr(similarity, "IVF_NPROBE", 8)
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
        rest = emb.filter(F.col("vec_id") != 0)
        exact = {r.vec_id for r in brute_force_topk(rest, qvec, 10).collect()}
        approx = {r.vec_id for r in ivf_topk(rest, qvec).collect()}
        assert len(exact & approx) / 10 >= 0.5

    def test_ivf_deterministic(self, spark):
        from unraveldocs_spark.similarity import ivf_topk

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
        rest = emb.filter(F.col("vec_id") != 0)
        a = [r.vec_id for r in ivf_topk(rest, qvec).collect()]
        b = [r.vec_id for r in ivf_topk(rest, qvec).collect()]
        assert a == b and len(a) == 10


def _dedup_ngram_jaccard_blocked(spark, sf_dir):
    """FIXED-CARDINALITY blocking — small-scale test oracle.

    Blocks on (lang, len_bucket), whose cardinality is data-independent:
    at 100x the data every block is 100x bigger and the pair join does
    10,000x the work, so it stays out of the package; it cross-checks the
    exact-Jaccard arithmetic of the banded query on the pairs both
    generate."""
    d = scan(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / F.lit(16)).cast("long").alias("len_bucket"),
        _spark_shingles(F.col("text")).alias("sh"),
    ).filter(F.size("sh") > 0)
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.len_bucket") == F.col("b.len_bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            inter.alias("jac_num"),
            union.alias("jac_den"),
        )
        .filter(F.col("jac_num") * _JACCARD_DEN >= F.col("jac_den") * _JACCARD_NUM)
        .orderBy("doc_a", "doc_b")
    )


class TestBandedJaccardVsBlocked:
    def test_banded_pairs_match_blocked_arithmetic(self, spark):
        """The banded query's (jac_num, jac_den) must agree with the
        exhaustive blocked oracle wherever both generate the pair, every
        banded pair must satisfy the >= 2/10 threshold, and strong
        duplicates (jaccard >= 0.5) found by the blocked oracle must be
        recalled by the bands on this deterministic corpus."""
        from unraveldocs_spark.trainingdata import q_dedup_ngram_jaccard

        banded = {
            (r.doc_a, r.doc_b): (r.jac_num, r.jac_den)
            for r in q_dedup_ngram_jaccard(spark, SF).collect()
        }
        blocked = {
            (r.doc_a, r.doc_b): (r.jac_num, r.jac_den)
            for r in _dedup_ngram_jaccard_blocked(spark, SF).collect()
        }
        assert banded, "banded query found no pairs at all"
        for pair, jac in banded.items():
            assert jac[0] * 10 >= jac[1] * 2
            if pair in blocked:
                assert blocked[pair] == jac
        strong = {p for p, (n, d) in blocked.items() if n * 2 >= d}
        assert strong <= set(banded), strong - set(banded)


class TestMultimodalResizeFeatures:
    def test_resize_plan_aspect_preserving(self, spark):
        from unraveldocs_spark.multimodal import (
            attach_binary_payload,
            decode_stage,
            resize_plan_stage,
        )

        d = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
        rows = resize_plan_stage(decode_stage(attach_binary_payload(d))).collect()
        assert rows
        for r in rows:
            assert max(r.out_width, r.out_height) == 224
            assert 1 <= r.out_width <= 224 and 1 <= r.out_height <= 224
            # integer-exact fit: out = (dim * 224) // long_side
            ls = max(r.width, r.height)
            assert r.out_width == max(1, r.width * 224 // ls)
            assert r.out_height == max(1, r.height * 224 // ls)

    def test_features_histogram_matches_python(self, spark):
        from unraveldocs_spark.multimodal import (
            FEATURE_BINS,
            attach_binary_payload,
            feature_stage,
        )

        d = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
        texts = {r.doc_id: r.text for r in d.collect()}
        got = {r.doc_id: r.features
               for r in feature_stage(attach_binary_payload(d)).collect()}
        for doc_id, text in texts.items():
            bins = [0] * FEATURE_BINS
            for b in text.encode("utf-8")[:64]:
                bins[b % FEATURE_BINS] += 1
            assert got[doc_id] == "|".join(str(v) for v in bins)


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        """Min-label propagation must resolve transitive chains (a~b, b~c
        => one cluster) and keep disconnected components apart."""
        from unraveldocs_spark.trainingdata import connected_components

        pairs = spark.createDataFrame(
            # chain 1-2-3-4 (diameter 3), island pair 10-11, triangle 20-21-22
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
            "doc_a long, doc_b long",
        )
        got = {r.doc_id: r.label for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                       20: 20, 21: 20, 22: 20}

    def test_long_chain_converges(self, spark):
        """A path graph is the worst case for propagation depth: labels
        must still converge within the iteration cap."""
        from unraveldocs_spark.trainingdata import connected_components

        n = 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
        )
        got = {r.doc_id: r.label for r in connected_components(pairs).collect()}
        assert got == {i: 0 for i in range(n + 1)}

    def test_star_algorithm_matches_propagation(self, spark):
        """large-star/small-star (the O(log n)-round, skew-safe variant)
        must produce identical component labels to min-label propagation
        on random graphs, paths, and hub stars."""
        from unraveldocs_spark.generator import mix64
        from unraveldocs_spark.trainingdata import (
            connected_components,
            connected_components_star,
        )

        def labels_of(fn, edge_list):
            df = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
            return sorted((r.doc_id, r.label) for r in fn(df).collect())

        cases = [
            [(i, i + 1) for i in range(9)],                      # path
            [(0, i) for i in range(1, 12)],                      # hub star
            [(1, 2), (3, 4), (5, 6)],                            # disjoint pairs
        ]
        for seed, n_edges in ((1, 12), (2, 25), (3, 45)):        # random graphs
            n = 30
            cases.append(
                [
                    (mix64(seed * 1000 + k) % n, mix64(seed * 1000 + k + 500) % n)
                    for k in range(n_edges)
                ]
            )
        for edge_list in cases:
            edge_list = [(a, b) for a, b in edge_list if a != b]
            assert labels_of(connected_components_star, edge_list) == labels_of(
                connected_components, edge_list
            ), edge_list


class TestProductQuantization:
    def test_pq_codes_deterministic_and_in_range(self, spark):
        """Encoding the same vectors twice yields identical codes; every
        code addresses a real centroid."""
        import numpy as np

        from unraveldocs_spark.similarity import (
            PQ_KSUB,
            PQ_M,
            pq_encode_stage,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = e.orderBy("vec_id").limit(PQ_KSUB).collect()
        cb = np.asarray([list(r.embedding) for r in rows], dtype=np.float64)
        dsub = cb.shape[1] // PQ_M
        books = np.stack([cb[:, m * dsub:(m + 1) * dsub] for m in range(PQ_M)])
        a = {r.vec_id: list(r.codes) for r in pq_encode_stage(e, books).collect()}
        b = {r.vec_id: list(r.codes) for r in pq_encode_stage(e, books).collect()}
        assert a == b
        assert all(len(c) == PQ_M for c in a.values())
        assert all(0 <= x < PQ_KSUB for c in a.values() for x in c)

    def test_pq_scores_match_python_reference(self, spark):
        """The integer-lut Spark scoring must equal a pure-Python ADC
        recomputation (same codebook seeding, same sequential dot, same
        half-away rounding) for every returned row, in order."""
        import numpy as np

        from unraveldocs_spark.similarity import (
            PQ_KSUB,
            PQ_M,
            _round_half_away_e6,
            pq_topk,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qvec = [float(x) for x in e.filter("vec_id = 0").first().embedding]
        base = e.filter("vec_id <> 0")
        got = pq_topk(base, qvec, k=10).collect()
        assert len(got) == 10
        scores = [r.ip_e6 for r in got]
        assert scores == sorted(scores, reverse=True)

        rows = base.orderBy("vec_id").limit(PQ_KSUB).collect()
        cb = np.asarray([list(r.embedding) for r in rows], dtype=np.float64)
        dsub = cb.shape[1] // PQ_M
        books = [cb[:, m * dsub:(m + 1) * dsub] for m in range(PQ_M)]

        def py_score(vec):
            total = 0
            v = [float(x) for x in vec]
            for m in range(PQ_M):
                sub = v[m * dsub:(m + 1) * dsub]
                best, best_d = 0, None
                for j in range(PQ_KSUB):
                    dd = sum(
                        (sub[i] - float(books[m][j][i])) ** 2 for i in range(dsub)
                    )
                    if best_d is None or dd < best_d:
                        best, best_d = j, dd
                s = 0.0
                for i in range(dsub):
                    s += float(books[m][best][i]) * qvec[m * dsub + i]
                total += _round_half_away_e6(s)
            return total

        vecs = {r.vec_id: r.embedding for r in base.collect()}
        for r in got:
            assert r.ip_e6 == py_score(vecs[r.vec_id]), r.vec_id


class TestFuzzySearchEdges:
    def test_distance_boundary(self, spark):
        """Tokens at exactly the max distance match; distance 2 does not
        (pins the <= comparison and the vocabulary-side filtering)."""
        from pyspark.sql import functions as F

        from unraveldocs_spark.trainingdata import (
            _FUZZY_MAX_DIST,
            _FUZZY_TERM,
            q_fuzzy_search,
        )

        res = q_fuzzy_search(spark, "/root/testdata/sf0.001")
        # matched_tokens is a comma-joined scalar (driver-canon rule)
        toks = {
            t for r in res.collect() for t in r.matched_tokens.split(",") if t
        }
        assert toks, "no fuzzy matches found"
        import duckdb

        for t in toks:
            d = duckdb.sql(
                f"select levenshtein('{t}', '{_FUZZY_TERM}')"
            ).fetchone()[0]
            assert d <= _FUZZY_MAX_DIST, (t, d)
        # 'table' itself is distance 1 from 'tble' and must be matched
        assert "table" in toks


def test_round_half_away_matches_duckdb_round():
    """_round_half_away_e6 must agree with DuckDB's CAST(ROUND(y*1e6) AS
    BIGINT) — the contract that keeps the PQ lookup tables engine-exact.
    Deterministic sample: mix64-derived doubles over several magnitudes,
    plus exact .5-boundary values."""
    import duckdb

    from unraveldocs_spark.generator import mix64
    from unraveldocs_spark.similarity import _round_half_away_e6

    vals = []
    for k in range(500):
        m = mix64(90_000 + k)
        mag = 10.0 ** ((m >> 48) % 6 - 3)  # 1e-3 .. 1e2
        v = ((m % 2_000_001) / 1_000_000.0 - 1.0) * mag
        vals.append(v)
    vals += [0.0000005, -0.0000005, 0.0000015, -0.0000015, 1.5e-6, 123.4567895]
    sql = "SELECT " + ", ".join(
        f"CAST(ROUND(CAST({v!r} AS DOUBLE) * 1000000.0) AS BIGINT)" for v in vals
    )
    duck = duckdb.sql(sql).fetchone()
    for v, expect in zip(vals, duck):
        assert _round_half_away_e6(v) == expect, v


def test_minhash_wide_band_candidates_subset(spark):
    """Widening rows-per-band (2x8 vs the default 4x4 over the same K=16
    family prefix) must only REMOVE candidates... not strictly a subset
    mathematically (different hash indices feed the bands), but on the
    driver corpus every true near-dup pair survives: the thresholded
    Jaccard pairs derived from wide-band candidates equal the ones from
    default bands."""
    from pyspark.sql import functions as F

    from unraveldocs_spark.scanfan import scan
    from unraveldocs_spark.trainingdata import (
        _JACCARD_DEN,
        _JACCARD_NUM,
        _minhash_candidate_pairs,
        _spark_shingles,
    )

    sh = (
        scan(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", _spark_shingles(F.col("text")).alias("sh"))
        .filter(F.size("sh") > 0)
    )

    def thresholded(cands):
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size("sh_a") + F.size("sh_b") - inter
        return sorted(
            (r.doc_a, r.doc_b)
            for r in cands.filter(
                inter * _JACCARD_DEN >= union * _JACCARD_NUM
            ).collect()
        )

    default_pairs = thresholded(_minhash_candidate_pairs(sh))
    wide_pairs = thresholded(_minhash_candidate_pairs(sh, n_bands=2, n_rows=8))
    assert default_pairs, "expected some near-dup pairs in the base corpus"
    assert wide_pairs == default_pairs


def test_pq_rerank_contains_exact_scores(spark):
    """The re-rank path must return true-cosine scores for vectors drawn
    from the ADC shortlist: every returned cos_e4 equals the exact cosine
    (computed driver-side) and the result is ordered by it."""
    import numpy as np

    from unraveldocs_spark.similarity import pq_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(x) for x in e.filter("vec_id = 0").first().embedding]
    base = e.filter("vec_id <> 0")
    got = pq_topk(base, qvec, k=5, rerank=50).collect()
    assert len(got) == 5
    q = np.asarray(qvec)
    qn = q / np.linalg.norm(q)
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in base.collect()}
    scores = [r.cos_e4 for r in got]
    assert scores == sorted(scores, reverse=True)
    for r in got:
        v = vecs[r.vec_id]
        exact = float((v / np.linalg.norm(v)) @ qn)
        assert abs(r.cos_e4 - round(exact * 10000)) <= 1, r


class TestBandShapeRules:
    """Band shape as a function of corpus size n — the measured
    BENCH/DEDUP_SCALE.md and BENCH/BAND_BITS.md rules productized;
    pinned at every measured point so the functions cannot drift from
    the benchmarks that justify them."""

    def test_minhash_shape_at_measured_points(self):
        from unraveldocs_spark.trainingdata import _MH_K, minhash_band_shape

        # DEDUP_SCALE.md legs: 1x=5000 docs (4x4 flat), 4x=20000 and
        # 16x=80000 (2x8 holds candidates 240->242, flat)
        assert minhash_band_shape(5000) == (4, 4)
        assert minhash_band_shape(20000) == (2, 8)
        assert minhash_band_shape(80000) == (2, 8)
        # driver scales keep the oracle-mirrored 4x4
        assert minhash_band_shape(500) == (4, 4)
        for n in (1, 500, 5000, 20000, 80000, 10**9):
            bands, rows = minhash_band_shape(n)
            assert bands * rows <= _MH_K
            assert bands >= 2  # recall needs >=2 bands within K=16

    def test_embedding_bits_at_measured_points(self):
        from unraveldocs_spark.trainingdata import embedding_band_bits

        # driver scales: the deliberate 4-bit thresholded-dedup shape
        assert embedding_band_bits(500) == 4
        assert embedding_band_bits(2000) == 4
        # BAND_BITS.md scaled column
        assert embedding_band_bits(8000) == 10
        assert embedding_band_bits(32000) == 12
        assert embedding_band_bits(128000) == 14

    def test_knn_bits_at_measured_points(self):
        from unraveldocs_spark.trainingdata import knn_band_bits

        # measured: 4-bit at n=2k made 25% of all pairs candidates
        # (33s); 8-bit is the measured floor
        assert knn_band_bits(500) == 8
        assert knn_band_bits(2000) == 8
        assert knn_band_bits(32000) == 12
        assert knn_band_bits(128000) == 14

    def test_bits_monotone_nondecreasing(self):
        from unraveldocs_spark.trainingdata import (
            embedding_band_bits,
            knn_band_bits,
            minhash_band_shape,
        )

        prev_e = prev_k = 0
        prev_rows = 0
        for n in (1, 100, 2000, 2001, 8000, 8001, 10**5, 10**6, 10**9):
            e, k = embedding_band_bits(n), knn_band_bits(n)
            rows = minhash_band_shape(n)[1]
            assert e >= prev_e and k >= prev_k and rows >= prev_rows, n
            prev_e, prev_k, prev_rows = e, k, rows


class TestStratifiedSplit:
    def test_cluster_members_share_split_and_leakage_zero(self, spark):
        """The whole point of cluster-keyed splitting: every member of a
        near-dup cluster lands in the SAME split (so cluster_cross == 0
        in the audit), while the naive per-doc hash split demonstrably
        leaks pairs across the boundary on the same corpus."""
        from unraveldocs_spark.trainingdata import (
            q_split_leakage_check,
            q_stratified_split,
        )

        rows = q_stratified_split(spark, SF).collect()
        assert len(rows) == 500  # every document assigned exactly once
        by_cluster = {}
        for r in rows:
            by_cluster.setdefault(r.cluster_id, set()).add(r.split)
        assert all(len(s) == 1 for s in by_cluster.values())
        assert any(len([r for r in rows if r.cluster_id == c]) > 1
                   for c in by_cluster), "corpus must contain a real cluster"
        splits = {r.split for r in rows}
        assert splits == {"train", "val", "test"}

        audit = q_split_leakage_check(spark, SF).first()
        assert audit.n_pairs > 0, "need near-dup pairs for the audit to bite"
        assert audit.cluster_cross == 0
        assert audit.naive_cross > 0, (
            "naive split must leak on this corpus, else the audit proves nothing"
        )

    def test_split_is_deterministic(self, spark):
        from unraveldocs_spark.trainingdata import q_stratified_split

        a = {(r.doc_id, r.split) for r in q_stratified_split(spark, SF).collect()}
        b = {(r.doc_id, r.split) for r in q_stratified_split(spark, SF).collect()}
        assert a == b


class TestVocabDrift:
    def test_topk_ordered_and_integer_exact(self, spark):
        from unraveldocs_spark.trainingdata import _DRIFT_TOPK, q_vocab_drift

        rows = q_vocab_drift(spark, SF).collect()
        assert len(rows) == _DRIFT_TOPK
        drifts = [r.drift for r in rows]
        assert drifts == sorted(drifts, reverse=True)
        # integer-exact identity: drift == |c_old*N_new - c_new*N_old|
        # with the totals recomputed independently
        import duckdb

        n_old, n_new = duckdb.sql(f"""
            SELECT SUM(CASE WHEN is_new THEN 0 ELSE 1 END),
                   SUM(CASE WHEN is_new THEN 1 ELSE 0 END)
            FROM (SELECT doc_id % 2 = 1 AS is_new,
                         unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
                  FROM '{SF}/documents.parquet')
        """).fetchone()
        for r in rows:
            assert r.drift == abs(r.c_old * n_new - r.c_new * n_old)


class TestPCA:
    def test_fit_matches_numpy_and_projection_is_deterministic(self, spark):
        from unraveldocs_spark.similarity import EMB_DIM, pca_fit, pca_project_stage

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        mean, comps = pca_fit(emb, dim=EMB_DIM, k=8)
        assert comps.shape == (8, EMB_DIM)

        # single-node reference on the same rows
        rows = sorted(emb.collect(), key=lambda r: r.vec_id)
        mat = np.asarray([np.asarray(r.embedding, dtype=np.float64) for r in rows])
        ref_mean = mat.mean(axis=0)
        cov = (mat.T @ mat) / len(mat) - np.outer(ref_mean, ref_mean)
        vals, vecs = np.linalg.eigh(cov)
        ref = vecs[:, ::-1][:, :8].T
        for i in range(8):
            j = int(np.argmax(np.abs(ref[i])))
            if ref[i, j] < 0:
                ref[i] = -ref[i]
        assert np.allclose(mean, ref_mean, atol=1e-9)
        assert np.allclose(comps, ref, atol=1e-6)

        proj = {
            r.vec_id: np.asarray(r.proj)
            for r in pca_project_stage(emb, mean, comps).collect()
        }
        assert len(proj) == len(rows)
        expect = (mat - ref_mean) @ ref.T
        for i, r in enumerate(rows):
            assert np.allclose(proj[r.vec_id], expect[i], atol=1e-6)

    def test_projection_captures_maximal_variance(self, spark):
        """The PCA guarantee: the top-k component subspace captures at
        least as much variance as ANY k coordinate axes (on the
        near-isotropic synthetic embeddings the margin is small, but the
        inequality must hold — and the captured share must beat the k/dim
        chance level)."""
        from unraveldocs_spark.similarity import EMB_DIM, pca_fit, pca_project_stage

        k = 16
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        mean, comps = pca_fit(emb, dim=EMB_DIM, k=k)
        proj = np.asarray(
            [r.proj for r in pca_project_stage(emb, mean, comps).collect()]
        )
        rows = emb.collect()
        mat = np.asarray([np.asarray(r.embedding, dtype=np.float64) for r in rows])
        total_var = ((mat - mat.mean(axis=0)) ** 2).sum(axis=0).sum() / len(mat)
        captured = (proj ** 2).sum(axis=0).sum() / len(mat)
        per_axis_var = ((mat - mat.mean(axis=0)) ** 2).sum(axis=0) / len(mat)
        best_axes = np.sort(per_axis_var)[::-1][:k].sum()
        assert captured >= best_axes - 1e-9  # optimal >= best axis subset
        assert captured / total_var > k / EMB_DIM  # beats chance share


class TestAdviceGuards:
    def test_connected_components_raises_when_unconverged(self, spark):
        """A chain deeper than max_iters must fail loudly (wrong labels
        would silently diverge from the recursive-CTE oracle), and the
        large-star/small-star variant must solve the same graph in its
        log(n) rounds."""
        from unraveldocs_spark.trainingdata import (
            connected_components,
            connected_components_star,
        )

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iters=3)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components_star(chain, max_iters=1)
        # star variant: one component, min label 0
        labels = connected_components_star(chain).collect()
        assert {r.label for r in labels} == {0}
        assert len(labels) == 31

    def test_paragraph_stride_guard_raises_on_alias(self, spark):
        """A document with >= _PARA_STRIDE 16-word chunks would alias its
        para_id into another doc's range; the guard must raise instead of
        silently corrupting the decode."""
        from unraveldocs_spark.trainingdata import (
            _PARA_STRIDE,
            _PARA_WORDS,
            _paragraphs,
        )

        ok = spark.createDataFrame(
            [(1, " ".join(["w"] * (_PARA_WORDS * 3)))], "doc_id long, text string"
        )
        assert len(_paragraphs(ok).collect()) == 3

        # one word past _PARA_STRIDE full chunks -> para_idx == stride
        huge_words = _PARA_WORDS * _PARA_STRIDE + 1
        huge = spark.createDataFrame(
            [(2, " ".join(["w"] * huge_words))], "doc_id long, text string"
        )
        with pytest.raises(Exception, match="_PARA_STRIDE"):
            _paragraphs(huge).collect()


class TestExactSubstringDedup:
    def test_shared_span_removed_from_all_copies(self, spark):
        """A k-token span shared by two docs must be marked in BOTH
        (ExactSubstr removes every occurrence), unique text must
        survive, and the kept digest must equal the md5-56 of the
        surviving tokens in order."""
        from unraveldocs_spark.trainingdata import _ESUB_K

        shared = " ".join(f"s{i}" for i in range(_ESUB_K))
        doc1 = f"u1 u2 u3 {shared} u4 u5"
        doc2 = f"v1 {shared} v2 v3 v4"
        doc3 = "w1 w2 w3 w4 w5 w6"  # shorter than k: no grams, all kept
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [doc1, doc2, doc3],
                "lang": ["en"] * 3,
                "source": ["srcA"] * 3,
                "n_chars": [len(doc1), len(doc2), len(doc3)],
            }
        )
        import os
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            os.makedirs(f"{td}", exist_ok=True)
            import duckdb

            duckdb.sql("SELECT * FROM pdf").write_parquet(
                f"{td}/documents.parquet"
            )
            from unraveldocs_spark.trainingdata import q_exact_substring_dedup

            rows = {r.doc_id: r for r in
                    q_exact_substring_dedup(spark, td).collect()}

        import hashlib

        def digest56(tokens):
            h = hashlib.md5(" ".join(tokens).encode()).hexdigest()[:14]
            return int(h, 16)

        # doc1: the shared 8 tokens are covered; u1..u5 survive
        assert rows[1].n_tokens == _ESUB_K + 5
        assert rows[1].n_dup_tokens == _ESUB_K
        assert rows[1].kept_digest == digest56(["u1", "u2", "u3", "u4", "u5"])
        # doc2 likewise
        assert rows[2].n_dup_tokens == _ESUB_K
        assert rows[2].kept_digest == digest56(["v1", "v2", "v3", "v4"])
        # doc3: too short for any gram — nothing marked
        assert rows[3].n_dup_tokens == 0
        assert rows[3].kept_digest == digest56(["w1", "w2", "w3", "w4", "w5", "w6"])

    def test_null_text_doc_dropped(self, spark, tmp_path):
        """r7 doc-local rewrite: a NULL-text document must be DROPPED
        (the oracle's UNNEST over a NULL range yields no rows, and the
        r6 explode-based shape emitted none) — the doc-local form needs
        an explicit filter to match."""
        from unraveldocs_spark.trainingdata import q_exact_substring_dedup

        d = spark.createDataFrame(
            [
                (1, "a b c d e f g h a b c d e f g h"),
                (2, None),
                (3, "a b c d e f g h a b c d e f g h"),
            ],
            "doc_id long, text string",
        )
        d.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        ids = [
            r.doc_id
            for r in q_exact_substring_dedup(spark, str(tmp_path)).collect()
        ]
        assert ids == [1, 3], ids


class TestQualityRepetitionRunFold:
    def test_sorted_run_fold_matches_brute_force(self, spark, tmp_path):
        """r7 per-row rewrite: the longest-equal-run fold over the
        sorted bigram array must equal the brute-force max bigram
        multiplicity, across repeated/unique/degenerate docs."""
        from collections import Counter

        from unraveldocs_spark.trainingdata import q_quality_repetition

        texts = [
            "spam spam spam spam spam",          # one dominant bigram
            "a b a b a b c",                      # alternating
            "x y",                                # single bigram
            "solo",                               # no bigram -> excluded
            "p q r p q r p q",                    # period-3 repeats
        ]
        d = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        d.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        rows = {
            r.doc_id: r
            for r in q_quality_repetition(spark, str(tmp_path)).collect()
        }
        for i, t in enumerate(texts):
            toks = t.split(" ")
            bigrams = [
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            ]
            if not bigrams:
                assert i not in rows
                continue
            c = Counter(bigrams)
            assert rows[i].top_bigram_count == max(c.values()), (i, t)
            assert rows[i].n_bigrams == len(bigrams), (i, t)


class TestWideBandShapeEndToEnd:
    def test_wide_shape_still_finds_planted_duplicates(self, spark):
        """The production band shape (shape_n=20000 -> 2x8, LSH threshold
        ~0.92) must still surface exact duplicates (jaccard 1.0 collides
        in every band regardless of shape) while the 4x4 driver shape is
        what the oracle mirrors — pins that passing a corpus size through
        shape_n actually changes the banding without losing true dups."""
        from unraveldocs_spark.trainingdata import (
            _minhash_candidate_pairs,
            _spark_shingles,
            minhash_band_shape,
        )

        assert minhash_band_shape(20000) == (2, 8)
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
                (3, "one two three four five six seven eight"),
            ],
            "doc_id long, text string",
        )
        sh = docs.select("doc_id", _spark_shingles(F.col("text")).alias("sh"))
        pairs = {
            (r.doc_a, r.doc_b)
            for r in _minhash_candidate_pairs(sh, shape_n=20000)
            .select("doc_a", "doc_b").collect()
        }
        assert (1, 2) in pairs
        assert all(p == (1, 2) for p in pairs), pairs


class TestParagraphUpperBound:
    """dedup_paragraph sizes its band shape from the PARAGRAPH universe
    (r4 ADVICE): the n_chars-derived upper bound, pinned at the three
    testdata scales so the static expectations in the dynamic DuckDB
    oracle (`pub` CTE, 8000-paragraph switch) cannot drift."""

    EXPECTED = {
        "/root/testdata/sf0.001": (5023, (4, 4)),
        "/root/testdata/sf0.01": (4901, (4, 4)),
        "/root/testdata/sf0.1": (48877, (2, 8)),  # widened: ub > 8000
    }

    def test_bound_and_shape_at_testdata_scales(self, spark):
        from unraveldocs_spark.trainingdata import (
            minhash_band_shape,
            paragraph_upper_bound,
        )

        for sf_dir, (ub, shape) in self.EXPECTED.items():
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            got = paragraph_upper_bound(docs)
            assert got == ub, (sf_dir, got)
            assert minhash_band_shape(got) == shape, (sf_dir, got)

    def test_bound_dominates_true_paragraph_count(self, spark):
        from pyspark.sql import functions as F

        from unraveldocs_spark.scanfan import scan
        from unraveldocs_spark.trainingdata import (
            _paragraphs,
            paragraph_upper_bound,
        )

        d = scan(spark, "/root/testdata/sf0.01", "documents")
        n_paras = _paragraphs(d).count()
        assert paragraph_upper_bound(d) >= n_paras


class TestBpeMerges:
    """bpe_merges (Sennrich et al. 2016 loop) semantics pins — shared by
    the Spark driver fold and the DuckDB VALUES oracle."""

    def test_overlapping_pairs_counted_and_rewrite_is_left_to_right(self):
        from unraveldocs_spark.trainingdata import bpe_merges

        # 'aaa' contributes (a,a) twice per occurrence; after merging
        # (a,a) the rewrite is left-to-right non-overlapping: (aa, a)
        m = bpe_merges({"aaa": 3}, 2)
        assert m[0] == ("a", "a", 6)
        assert m[1] == ("aa", "a", 3)

    def test_tie_break_is_lexicographically_smallest(self):
        from unraveldocs_spark.trainingdata import bpe_merges

        # 'ba' and 'ab' each count 1 — tie resolves to ('a','b')
        m = bpe_merges({"ab": 1, "ba": 1}, 1)
        assert m[0] == ("a", "b", 1)

    def test_freq_weighting_and_termination(self):
        from unraveldocs_spark.trainingdata import bpe_merges

        m = bpe_merges({"xy": 5, "zw": 2}, 10)
        assert m[0] == ("x", "y", 5)
        assert m[1] == ("z", "w", 2)
        assert len(m) == 2  # loop stops when no pairs remain

    def test_oracle_tokenizer_uses_java_ascii_whitespace(self, monkeypatch):
        """The bpe oracles split with the Java-regex ASCII class
        [ \\t\\n\\x0B\\f\\r]+ — NOT Python's Unicode-aware \\s — so a
        word containing NBSP stays ONE token on both engines (Spark's
        Java \\s+ does not split on NBSP either).  Pins the r2
        whitespace invariant on the bpe_learn/bpe_encode parity path."""
        from unraveldocs_spark import trainingdata as TD
        from unraveldocs_spark.semantics import _JAVA_RE_WS_SPLIT

        text = "foo bar bazqux\x0bend"
        toks = [t for t in _JAVA_RE_WS_SPLIT.split(text) if t]
        # NBSP (U+00A0) and NEL (U+0085) do NOT split; \x0B does
        assert toks == ["foo bar", "bazqux", "end"]
        # and both FIXTURE oracles count an NBSP-joined word as one word
        word = "ab\u00a0cd"
        rows = [("c", i, "user", f"{word} {word}", None, None) for i in range(3)]
        monkeypatch.setattr(TD, "transcript_rows", lambda **kw: iter(rows))
        assert any(left + right == word for left, right, _ in TD._fixture_merges())
        assert f"'{word}'" in TD._bpe_learn_sql()
        # each turn: 2 words, each merged to 1 symbol (a \\s split: 4 words)
        assert "('c', 0, 2, 2, " in TD._bpe_encode_sql()


class TestBpeApply:
    """bpe_apply (encode half) pins — shared by the Spark Arrow stage
    and the VALUES oracle."""

    def test_left_to_right_non_overlapping(self):
        from unraveldocs_spark.trainingdata import bpe_apply

        assert bpe_apply("aaaa", [("a", "a")]) == ("aa", "aa")
        assert bpe_apply("aaa", [("a", "a")]) == ("aa", "a")

    def test_merges_chain_in_learned_order(self):
        from unraveldocs_spark.trainingdata import bpe_apply

        assert bpe_apply("aaaa", [("a", "a"), ("aa", "aa")]) == ("aaaa",)

    def test_order_matters_consumed_symbols_do_not_remerge(self):
        from unraveldocs_spark.trainingdata import bpe_apply

        # (b,c) fires first, so a later (a,b) merge has no 'b' left
        assert bpe_apply("abc", [("b", "c"), ("a", "b")]) == ("a", "bc")

    def test_word_without_merge_is_untouched(self):
        from unraveldocs_spark.trainingdata import bpe_apply

        assert bpe_apply("xyz", [("a", "b")]) == ("x", "y", "z")


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        [(i, t, lang, "src", len(t)) for i, (t, lang) in enumerate(rows)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


class TestDsirImportance:
    def test_all_target_corpus_has_unit_weights(self, spark, tmp_path):
        """When every document is in the target slice, cnt_t == cnt_r in
        every bucket, so each token weighs exactly 1e6 and
        score_e6 == 1e6 * n_tokens."""
        from unraveldocs_spark.trainingdata import q_dsir_importance

        _write_docs(
            spark,
            tmp_path,
            [("alpha beta gamma", "en"), ("delta alpha", "en")],
        )
        rows = {
            r["doc_id"]: r
            for r in q_dsir_importance(spark, str(tmp_path)).collect()
        }
        assert rows[0]["n_tokens"] == 3 and rows[1]["n_tokens"] == 2
        for r in rows.values():
            assert r["avg_weight_e6"] == 1_000_000
            assert r["score_e6"] == 1_000_000 * r["n_tokens"]

    def test_empty_target_slice_scores_zero(self, spark, tmp_path):
        from unraveldocs_spark.trainingdata import q_dsir_importance

        _write_docs(
            spark, tmp_path, [("uno dos tres", "es"), ("vier funf", "de")]
        )
        for r in q_dsir_importance(spark, str(tmp_path)).collect():
            assert r["score_e6"] == 0 and r["avg_weight_e6"] == 0

    def test_single_char_tokens_excluded(self, spark, tmp_path):
        from unraveldocs_spark.trainingdata import q_dsir_importance

        _write_docs(spark, tmp_path, [("a b cd", "en")])
        [r] = q_dsir_importance(spark, str(tmp_path)).collect()
        assert r["n_tokens"] == 1  # only 'cd' survives the len >= 2 gate


class TestNgramLmScore:
    def test_add_one_smoothed_conditionals(self, spark, tmp_path):
        """Hand-computed corpus: docs 'a b', 'a b', 'a c' give
        cnt1(a)=3, V=3, cnt2(a,b)=2, cnt2(a,c)=1, so
        cond(a,b) = 1e6*3 DIV 6 = 500000 and
        cond(a,c) = 1e6*2 DIV 6 = 333333 (single-char tokens are KEPT
        here — dropping them would fabricate adjacencies)."""
        from unraveldocs_spark.trainingdata import q_ngram_lm_score

        _write_docs(
            spark, tmp_path, [("a b", "en"), ("a b", "en"), ("a c", "en")]
        )
        rows = {
            r["doc_id"]: r
            for r in q_ngram_lm_score(spark, str(tmp_path)).collect()
        }
        assert rows[0]["avg_cond_e6"] == 500_000
        assert rows[1]["avg_cond_e6"] == 500_000
        assert rows[2]["avg_cond_e6"] == 333_333
        assert all(r["n_bigrams"] == 1 for r in rows.values())

    def test_short_docs_drop_out(self, spark, tmp_path):
        from unraveldocs_spark.trainingdata import q_ngram_lm_score

        _write_docs(spark, tmp_path, [("solo", "en"), ("two words", "en")])
        rows = q_ngram_lm_score(spark, str(tmp_path)).collect()
        assert [r["doc_id"] for r in rows] == [1]


def _write_docs_src(spark, tmp_path, rows):
    """Like _write_docs but with a caller-chosen source per row."""
    spark.createDataFrame(
        [
            (i, t, lang, src, len(t))
            for i, (t, lang, src) in enumerate(rows)
        ],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


class TestDomainMix:
    def test_sqrt_upsamples_small_domains(self, spark, tmp_path):
        """src_a has 16 tokens, src_b 4: raw proportions 0.8/0.2 but
        alpha=0.5 weights sqrt(16):sqrt(4) = 4:2 -> 2/3 and 1/3."""
        from unraveldocs_spark.trainingdata import q_domain_mix

        _write_docs_src(
            spark,
            tmp_path,
            [
                (" ".join(["w"] * 16), "en", "src_a"),
                (" ".join(["w"] * 4), "en", "src_b"),
            ],
        )
        rows = {
            r["source"]: r for r in q_domain_mix(spark, str(tmp_path)).collect()
        }
        assert rows["src_a"]["n_tokens"] == 16
        assert rows["src_a"]["p_raw_e6"] == 800_000
        assert rows["src_b"]["p_raw_e6"] == 200_000
        assert rows["src_a"]["p_alpha_e6"] == 666_666
        assert rows["src_b"]["p_alpha_e6"] == 333_333

    def test_alpha_weights_sum_to_one_within_floor_slack(self, spark, tmp_path):
        from unraveldocs_spark.trainingdata import q_domain_mix

        _write_docs_src(
            spark,
            tmp_path,
            [
                ("a b c", "en", "s1"),
                ("d e", "de", "s2"),
                ("f g h i j k l", "fr", "s3"),
            ],
        )
        rows = q_domain_mix(spark, str(tmp_path)).collect()
        total = sum(r["p_alpha_e6"] for r in rows)
        assert 1_000_000 - len(rows) <= total <= 1_000_000


class TestCurriculumOrder:
    def test_stage_from_exact_cdf(self, spark, tmp_path):
        """difficulty = (1e6 * n_chars) DIV n_tok; 4 distinct values ->
        one doc per stage in difficulty order."""
        from unraveldocs_spark.trainingdata import q_curriculum_order

        _write_docs(
            spark,
            tmp_path,
            [("aa", "en"), ("bbbb", "en"), ("cc dd", "en"), ("e f", "en")],
        )
        rows = {
            r["doc_id"]: r
            for r in q_curriculum_order(spark, str(tmp_path)).collect()
        }
        assert rows[3]["difficulty_e6"] == 1_500_000 and rows[3]["stage"] == 0
        assert rows[0]["difficulty_e6"] == 2_000_000 and rows[0]["stage"] == 1
        assert rows[2]["difficulty_e6"] == 2_500_000 and rows[2]["stage"] == 2
        assert rows[1]["difficulty_e6"] == 4_000_000 and rows[1]["stage"] == 3

    def test_ties_share_a_stage(self, spark, tmp_path):
        """Equal difficulty values must land in the SAME stage (the CDF
        rule never splits ties the way NTILE would)."""
        from unraveldocs_spark.trainingdata import q_curriculum_order

        _write_docs(
            spark,
            tmp_path,
            [("aa", "en"), ("aa", "en"), ("bbbb", "en"), ("e f", "en")],
        )
        rows = {
            r["doc_id"]: r
            for r in q_curriculum_order(spark, str(tmp_path)).collect()
        }
        assert rows[0]["stage"] == rows[1]["stage"] == 1
        assert rows[3]["stage"] == 0
        assert rows[2]["stage"] == 3

    def test_zero_token_docs_drop(self, spark, tmp_path):
        from unraveldocs_spark.trainingdata import q_curriculum_order

        _write_docs(spark, tmp_path, [("   ", "en"), ("ab", "en")])
        rows = q_curriculum_order(spark, str(tmp_path)).collect()
        assert [r["doc_id"] for r in rows] == [1]


class TestClassifierTrainset:
    def test_all_positive_corpus_has_no_negatives(self, spark, tmp_path):
        """n_neg = 0 -> threshold 0 -> output is exactly the positives,
        every row labeled 1."""
        from unraveldocs_spark.trainingdata import q_classifier_trainset

        fluent = "the cat sat on the mat and the dog sat in the yard " \
                 "for it is a fine day to sit on a mat"
        _write_docs(spark, tmp_path, [(fluent, "en"), (fluent, "en")])
        rows = q_classifier_trainset(spark, str(tmp_path)).collect()
        assert len(rows) == 2
        assert all(r["label"] == 1 for r in rows)

    def test_gate_requires_stopword_density(self, spark, tmp_path):
        """An en doc with >= 20 tokens but stopword density < 0.1 is NOT
        a positive (it may appear as a sampled negative, labeled 0)."""
        from unraveldocs_spark.trainingdata import q_classifier_trainset

        dry = " ".join(f"w{i}" for i in range(25))
        _write_docs(spark, tmp_path, [(dry, "en")])
        rows = q_classifier_trainset(spark, str(tmp_path)).collect()
        assert all(r["label"] == 0 for r in rows)

    def test_zero_positive_corpus_is_empty(self, spark, tmp_path):
        """No positives -> threshold 0 -> no negatives sampled either."""
        from unraveldocs_spark.trainingdata import q_classifier_trainset

        _write_docs(spark, tmp_path, [("uno dos tres", "es"), ("kurz", "de")])
        assert q_classifier_trainset(spark, str(tmp_path)).count() == 0

    def test_features_are_integer_exact(self, spark, tmp_path):
        from unraveldocs_spark.trainingdata import q_classifier_trainset

        fluent = ("the a of and to in is for on it " * 2).strip()  # 20 toks
        _write_docs(spark, tmp_path, [(fluent, "en")])
        [r] = q_classifier_trainset(spark, str(tmp_path)).collect()
        assert r["n_tok"] == 20 and r["n_stop"] == 20
        assert r["mean_tok_len_e6"] == (1_000_000 * len(fluent)) // 20


class TestDedupIncrement:
    def test_existing_duplicate_detected(self, spark, tmp_path):
        """ids 0..4 -> t = 3, batch = {3, 4}; doc 3 repeats existing doc
        0 (dup_of = 0, dropped), doc 4 is unique (kept)."""
        from unraveldocs_spark.trainingdata import q_dedup_increment

        dup = "alpha beta gamma delta epsilon zeta"
        _write_docs(
            spark,
            tmp_path,
            [
                (dup, "en"),
                ("one two three four five six", "en"),
                ("sieben acht neun zehn elf", "de"),
                (dup, "en"),
                ("totally different words here now", "en"),
            ],
        )
        rows = {
            r["doc_id"]: r
            for r in q_dedup_increment(spark, str(tmp_path)).collect()
        }
        assert set(rows) == {3, 4}
        assert rows[3]["dup_of"] == 0 and rows[3]["keep"] == 0
        assert rows[3]["n_existing_matches"] >= 1
        assert rows[3]["n_batch_matches"] == 0
        assert rows[4]["dup_of"] is None and rows[4]["keep"] == 1

    def test_within_batch_duplicate_keeps_earliest(self, spark, tmp_path):
        """Batch docs 3 and 4 duplicate each other but nothing existing:
        4 drops against 3; 3 survives."""
        from unraveldocs_spark.trainingdata import q_dedup_increment

        dup = "lorem ipsum dolor sit amet consectetur"
        _write_docs(
            spark,
            tmp_path,
            [
                ("one two three four five six", "en"),
                ("sieben acht neun zehn elf zwolf", "de"),
                ("unique middle doc content words", "en"),
                (dup, "en"),
                (dup, "en"),
            ],
        )
        rows = {
            r["doc_id"]: r
            for r in q_dedup_increment(spark, str(tmp_path)).collect()
        }
        assert rows[4]["dup_of"] == 3 and rows[4]["keep"] == 0
        assert rows[4]["n_batch_matches"] >= 1
        assert rows[4]["n_existing_matches"] == 0
        assert rows[3]["keep"] == 1

    def test_below_jaccard_threshold_not_a_match(self, spark, tmp_path):
        """A batch doc sharing one bigram with an existing doc (jaccard
        << 0.5) stays kept even if a band collides."""
        from unraveldocs_spark.trainingdata import q_dedup_increment

        _write_docs(
            spark,
            tmp_path,
            [
                ("alpha beta x1 x2 x3 x4 x5 x6 x7 x8", "en"),
                ("filler doc number two words", "en"),
                ("filler doc number three words", "en"),
                ("alpha beta y1 y2 y3 y4 y5 y6 y7 y8", "en"),
                ("another unique closing doc", "en"),
            ],
        )
        rows = {
            r["doc_id"]: r
            for r in q_dedup_increment(spark, str(tmp_path)).collect()
        }
        assert rows[3]["keep"] == 1 and rows[3]["dup_of"] is None


class TestSharedStages:
    """corpus_export_shards composes the sibling operators' stages: the
    documents it packs are exactly those quality_gopher passes,
    contamination_check scores under _EXPORT_CONTAM_MAX_E4, and
    line_dedup leaves at least one chunk."""

    def test_export_docs_are_the_sibling_queries_keep_sets(self, spark):
        from collections import Counter

        from unraveldocs_spark import trainingdata as td

        passed = {
            r["doc_id"]
            for r in td.q_quality_gopher(spark, SF).filter("pass_gate = 1").collect()
        }
        clean = {
            r["doc_id"]
            for r in td.q_contamination_check(spark, SF)
            .filter(F.col("contam_e4") < td._EXPORT_CONTAM_MAX_E4)
            .collect()
        }
        chunked = {
            r["doc_id"]
            for r in td.q_line_dedup(spark, SF).filter("n_kept > 0").collect()
        }
        export = td._export_docs(spark, SF).collect()
        kept = {r["doc_id"] for r in export}
        # both the gate and decontamination reject docs the other keeps
        assert passed - clean and clean - passed
        assert kept == passed & clean & chunked
        shards = Counter()
        for r in td.q_corpus_export_shards(spark, SF).collect():
            shards[r["lang"]] += r["n_docs"]
        assert shards == Counter(r["lang"] for r in export)
