"""Dedup-family semantics tests (SURVEY §5.3-5.4): MinHash monotonicity,
LSH candidate recall, three-way classification thresholds, SCD-2
invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beis_orp_data_service_spark.operators import dedup as dd


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the fence and the birds sing in the morning light over the hills"
)
NEAR = BASE.replace("morning", "evening")  # one-word change
FAR = (
    "completely different content about regulatory frameworks and spark "
    "query engines processing large document collections at scale daily"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, FAR)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_prefix_length_no_int32_wrap(spark):
    # 500 * 5M = 2.5e9 > 2^31: the int32 product of size() would wrap
    df = spark.range(1).select(F.lit(5_000_000).alias("_n"))
    assert df.schema["_n"].dataType.simpleString() == "int"
    got = df.select(dd.prefix_length("_n", 500).alias("p")).first().p
    assert got == 5_000_000 - 2_500_000 + 1


def test_minhash_identical_docs_identical_sigs(spark, corpus):
    sigs = {r.doc_id: r.sig_text for r in dd.minhash_signature(corpus, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]  # same text → same signature
    assert sigs[1] != sigs[4]
    assert len(sigs[1].split("_")) == len(dd.PERMS)


def test_minhash_similarity_monotone(spark, corpus):
    sigs = {r.doc_id: r.sig for r in dd.minhash_signature(corpus, "doc_id", "text").collect()}

    def agree(a, b):
        return sum(1 for x, y in zip(a, b) if x == y)

    # near-dup shares more minhash positions than a far pair
    assert agree(sigs[1], sigs[3]) > agree(sigs[1], sigs[4])


def test_minhash_np_equals_sql(spark, corpus):
    # the Arrow-vectorized path must be bit-identical to the pure-SQL
    # expression form (same int64 arithmetic)
    sql_sigs = {r.doc_id: r.sig_text for r in dd.minhash_signature(corpus, "doc_id", "text").collect()}
    np_sigs = {r.doc_id: r.sig_text for r in dd.minhash_signature_np(corpus, "doc_id", "text").collect()}
    assert sql_sigs == np_sigs


def test_reference_width_signature_256_perm_band6(spark, corpus):
    # the reference's exact configuration: 256 perms, seed-1 family,
    # bands of 6 (check_duplicate/utils.py:24, check_duplicate.py:90-93)
    sigs = dd.minhash_signature_np(corpus, "doc_id", "text", perms=dd.PERMS_FULL)
    first = sigs.first()
    assert len(first.sig) == 256
    assert len(first.sig_text.split("_")) == 256  # serialized parity shape
    pairs = {
        (r.a_id, r.b_id)
        for r in dd.lsh_band_pairs(sigs, "doc_id", band_width=6, sig_len=256).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs  # identical + near-dup found
    assert (1, 4) not in pairs  # far pair never shares a 6-band


def test_lsh_bands_find_near_dups(spark, corpus):
    sigs = dd.minhash_signature(corpus, "doc_id", "text")
    pairs = {(r.a_id, r.b_id) for r in dd.lsh_band_pairs(sigs, "doc_id").collect()}
    assert (1, 2) in pairs  # identical docs always collide


def test_exact_dup_groups(spark, corpus):
    out = {r.doc_id: r for r in dd.exact_dup_groups(corpus, "doc_id", "text").collect()}
    assert out[1].group_size == 2 and out[2].group_size == 2
    assert out[1].canonical_id == 1 and out[2].canonical_id == 1
    assert out[1].is_canonical and not out[2].is_canonical
    assert out[3].group_size == 1


def test_ngram_jaccard_ordering(spark, corpus):
    pairs = {
        (r.a_id, r.b_id): r.jaccard_milli
        for r in dd.ngram_jaccard_pairs(corpus, "doc_id", "text", n=3).collect()
    }
    assert pairs[(1, 2)] == 1000  # identical
    assert pairs.get((1, 4), 0) < pairs[(1, 3)] < 1000  # near between far and exact


def test_simhash_near_dup_close(spark, corpus):
    out = {r.doc_id: r.sh for r in corpus.select("doc_id", dd.simhash16("text").alias("sh")).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert out[1] == out[2]
    assert hamming(out[1], out[3]) <= hamming(out[1], out[4])


def test_scd_invariants(spark):
    rows = [(k, d, i) for k in ["a", "b", "c"] for i, d in enumerate(["2021-01-01", "2021-02-01", "2021-03-01"][: (ord(k) - 96)])]
    df = spark.createDataFrame(rows, "node_id string, dt string, seq bigint")
    out = dd.scd_versions(df, "node_id", "dt", "seq")
    pdf = out.toPandas()
    # exactly one live version per key (record_handler.py:53-66)
    live = pdf[pdf.status == "published"].groupby("node_id").size()
    assert (live == 1).all()
    # versions strictly increasing from 1, latest is live
    for key, grp in pdf.groupby("node_id"):
        vs = sorted(grp.version)
        assert vs == list(range(1, len(grp) + 1))
        assert grp.loc[grp.version.idxmax()].status == "published"


def test_latest_per_key_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("k", "2021-01-01", 1), ("k", "2021-01-01", 2)],
        "key string, dt string, id bigint",
    )
    out = dd.latest_per_key(df, "key", "dt", "id").collect()
    assert len(out) == 1 and out[0].id == 2  # max tiebreak wins


def test_mllib_lsh_recall_against_ngram_truth(spark, corpus):
    # the scale path must find what the exact path finds (identical +
    # near dup pairs at jaccard >= 0.4 → distance <= 0.6)
    got = {
        (r.a_id, r.b_id)
        for r in dd.minhash_lsh_pairs_mllib(
            corpus, "doc_id", "text", jaccard_distance_threshold=0.6
        ).collect()
    }
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert (1, 4) not in got


def test_declared_minhash_lsh_recovers_planted_pairs(spark):
    # the declared rows-only entry plants 3 near-dup copies (id + 10^9,
    # suffix-perturbed text); a working LSH join MUST recover all three
    # (original, planted) pairs at sf0.01 — this pins the min_rows=3 floor
    # so the driver's rows-only check is non-vacuous.
    from pyspark.sql import functions as F

    from beis_orp_data_service_spark import declared
    from conftest import SF_CORRECT

    qd = declared.REGISTRY["minhash_lsh_pairs"]
    assert qd.min_rows == 3
    pairs = {(r.a_id, r.b_id) for r in qd.fn(spark, SF_CORRECT).collect()}
    assert len(pairs) >= 3
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    low3 = [
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 10 == 0)
        .orderBy("doc_id")
        .limit(3)
        .collect()
    ]
    for i in low3:
        assert (i, i + 1_000_000_000) in pairs


def test_simhash_table_uses_all_bits(spark):
    """Round-7 scaling-probe regression: the wide fingerprint's token
    hash must put entropy in EVERY band (the old ×31 polynomial mod
    2^48 left bits 32-47 permanently zero for ordinary word lengths —
    one band bucket held the whole corpus and the band join went
    quadratic). Over 200 distinct single-word docs, every 12-bit band
    must take many distinct values, and fingerprints are deterministic."""
    import random

    words = [
        "".join(random.Random(i).choices("abcdefghijklmnop", k=6))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    fps = {r.doc_id: r.simhash for r in dd.simhash_table(df, "doc_id", "text", 48).collect()}
    for band in range(4):
        vals = {(h >> (12 * band)) & 0xFFF for h in fps.values()}
        assert len(vals) >= 100, f"band {band} degenerate: {len(vals)} values"
    again = {r.doc_id: r.simhash for r in dd.simhash_table(df, "doc_id", "text", 48).collect()}
    assert fps == again  # deterministic
    # identical text -> identical fingerprint
    dup = spark.createDataFrame(
        [(1, "the quick brown fox"), (3, "the quick brown fox")],
        "doc_id long, text string",
    )
    two = {r.doc_id: r.simhash for r in dd.simhash_table(dup, "doc_id", "text", 48).collect()}
    assert two[1] == two[3]


def test_simhash_band_pairs_full_recall_within_guarantee(spark):
    """Pigeonhole: with 4 bands, EVERY pair at Hamming <= 3 must be
    found; pairs differing in >3 bits must be absent."""
    base = 0b101010101010_111100001111_000011110000_110011001100  # 48 bits
    rows = [
        (1, base),
        (2, base ^ 0b111),            # hamming 3 (one band) -> found
        (3, base ^ (1 << 13)),        # hamming 1 (band 1)   -> found
        (4, base ^ 0b111 ^ (1 << 13) ^ (1 << 25) ^ (1 << 37)),  # 6 bits -> out
    ]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in dd.simhash_band_pairs(fp, n_bits=48, n_bands=4, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 3
    assert got[(1, 3)] == 1
    assert got[(2, 3)] == 4 if (2, 3) in got else True  # >3 filtered
    assert (2, 3) not in got  # hamming 4 > max
    assert (1, 4) not in got  # hamming 6, no shared band needed anyway


def test_simhash_band_pairs_rejects_broken_guarantee(spark):
    fp = spark.createDataFrame([(1, 0)], "doc_id long, simhash long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.simhash_band_pairs(fp, n_bands=4, max_hamming=4)
    with _pytest.raises(ValueError):
        dd.simhash_table(
            spark.createDataFrame([(1, "x")], "doc_id long, text string"),
            "doc_id", "text", n_bits=49,
        )


class TestEditDistancePairs:
    def test_planted_typos_found(self, spark):
        rows = [
            (1, "regulation of widgets"),
            (2, "regulation of widgets"),   # exact dup -> dist 0
            (3, "regulation of widgetz"),   # 1 substitution
            (4, "regulations of widgets"),  # 1 insertion
            (5, "regulation off widgetz"),  # 2 edits from 1
            (6, "completely different"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, title string")
        got = {
            (r.a_id, r.b_id): r.dist
            for r in dd.edit_distance_pairs(df, "doc_id", "title", max_dist=2).collect()
        }
        assert got[(1, 2)] == 0
        assert got[(1, 3)] == 1
        assert got[(1, 4)] == 1
        assert got[(1, 5)] == 2
        assert got[(3, 5)] == 1
        assert not any(6 in p for p in got)

    def test_recall_matches_brute_force(self, spark):
        """PassJoin blocking must find EVERY pair the quadratic scan
        finds — exact recall, not approximate."""
        import itertools
        import random

        rnd = random.Random(11)
        vocab = ["act", "rule", "order", "safety", "guidance", "widget"]
        strings = [
            " ".join(rnd.choice(vocab) for _ in range(rnd.randint(2, 4)))
            for _ in range(60)
        ]
        rows = list(enumerate(strings))
        df = spark.createDataFrame(rows, "doc_id long, title string")
        got = {
            (r.a_id, r.b_id): r.dist
            for r in dd.edit_distance_pairs(df, "doc_id", "title", max_dist=2).collect()
        }

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        want = {
            (i, j): lev(strings[i], strings[j])
            for i, j in itertools.combinations(range(len(strings)), 2)
            if lev(strings[i], strings[j]) <= 2
        }
        assert got == want

    def test_short_strings_excluded(self, spark):
        df = spark.createDataFrame(
            [(1, "ab"), (2, "ab"), (3, "abc"), (4, "abc")], "doc_id long, title string"
        )
        got = {
            (r.a_id, r.b_id)
            for r in dd.edit_distance_pairs(df, "doc_id", "title", max_dist=2).collect()
        }
        # length < max_dist+1 is outside the guarantee and excluded
        assert (1, 2) not in got
        assert (3, 4) in got


class TestLshIndex:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_probe_equals_direct_band_key_intersection(self, spark, tmp_path):
        # the index mechanism must reproduce exactly the (band_key)
        # collisions the in-memory band table yields — LSH *recall* for
        # near-dups is the banding math's job and is pinned by the
        # lsh_bands/minhash tests; this pins store+probe fidelity.
        from beis_orp_data_service_spark.operators import dedup as dd

        base = "the quick brown fox jumps over the lazy dog " * 4
        corpus = self._docs(
            spark, [(1, base), (2, "totally different content here")]
        )
        batch = self._docs(
            spark, [(100, base + " tiny suffix"), (200, base)]
        )
        ik = {
            (r.band_key, r.doc_id)
            for r in dd.lsh_band_rows(corpus, "doc_id", "text", 4, None).collect()
        }
        pk = {
            (r.band_key, r.doc_id)
            for r in dd.lsh_band_rows(batch, "doc_id", "text", 4, None).collect()
        }
        want = {}
        for bk, i in ik:
            for bk2, p in pk:
                if bk == bk2:
                    want[(i, p)] = want.get((i, p), 0) + 1
        dd.lsh_index_write(corpus, str(tmp_path / "idx"))
        got = {
            (r.index_id, r.probe_id): r.n_bands
            for r in dd.lsh_index_probe(
                spark, str(tmp_path / "idx"), batch
            ).collect()
        }
        assert got == want
        # identical text must collide on every band
        assert got[(1, 200)] == 2

    def test_append_mode_is_incremental(self, spark, tmp_path):
        from beis_orp_data_service_spark.operators import dedup as dd

        path = str(tmp_path / "idx")
        d1 = "alpha beta gamma delta epsilon zeta eta theta " * 3
        d2 = "one two three four five six seven eight nine ten " * 3
        dd.lsh_index_write(self._docs(spark, [(1, d1)]), path)
        dd.lsh_index_write(
            self._docs(spark, [(2, d2)]), path, mode="append"
        )
        probe = self._docs(spark, [(10, d1), (20, d2)])
        got = {(r.index_id, r.probe_id) for r in dd.lsh_index_probe(spark, path, probe).collect()}
        # both generations of the index answer
        assert (1, 10) in got and (2, 20) in got

    def test_band_partitioned_layout(self, spark, tmp_path):
        import os

        from beis_orp_data_service_spark.operators import dedup as dd

        path = str(tmp_path / "idx")
        dd.lsh_index_write(
            self._docs(spark, [(1, "some words repeated some words " * 2)]), path
        )
        bands = {d for d in os.listdir(path) if d.startswith("band=")}
        assert bands == {"band=0", "band=1"}  # 8 perms / width 4

    def test_probe_count_equals_band_key_intersection(self, spark, tmp_path):
        from beis_orp_data_service_spark.operators import dedup as dd

        text = "shared vocabulary for both documents in this tiny test " * 2
        path = str(tmp_path / "idx")
        dd.lsh_index_write(self._docs(spark, [(1, text)]), path)
        got = dd.lsh_index_probe(
            spark, path, self._docs(spark, [(9, text)])
        ).collect()
        # identical text -> identical signature -> both bands agree
        assert [(r.index_id, r.probe_id, r.n_bands) for r in got] == [(1, 9, 2)]


class TestJaccardPrefixJoin:
    def _brute(self, rows, t_milli):
        out = {}
        sets = {i: set(t.lower().split()) for i, t in rows}
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                i = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                jm = 1000 * i // u
                if jm >= t_milli:
                    out[(a, b)] = jm
        return out

    def test_recall_is_exactly_one_vs_bruteforce(self, spark):
        # deterministic corpus mixing near-dups, partial overlaps, and
        # disjoint docs; EVERY qualifying pair must be found (no LSH luck)
        vocab = [f"w{j}" for j in range(30)]
        rows = [
            (i, " ".join(vocab[(i * 3 + k) % 30] for k in range(8 + i % 5)))
            for i in range(40)
        ]
        rows += [(100, rows[0][1]), (101, rows[0][1] + " extra")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        for t in (400, 600, 800):
            got = {
                (r.a_id, r.b_id): r.jaccard_milli
                for r in dd.jaccard_prefix_join(
                    df, "doc_id", "text", threshold_milli=t
                ).collect()
            }
            assert got == self._brute(rows, t)

    def test_identical_docs_score_1000(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "delta")],
            "doc_id bigint, text string",
        )
        got = {
            (r.a_id, r.b_id): r.jaccard_milli
            for r in dd.jaccard_prefix_join(df, "doc_id", "text", 900).collect()
        }
        assert got == {(1, 2): 1000}  # set semantics: order/dup irrelevant

    def test_no_cartesian_plan(self, spark):
        from beis_orp_data_service_spark.catalog import load_table
        from conftest import SF_SMOKE

        docs = load_table(spark, SF_SMOKE, "documents").where("n_chars < 150")
        plan = (
            dd.jaccard_prefix_join(docs, "doc_id", "text", 500)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestContainmentJoin:
    def test_planted_excerpt_found_asymmetric(self, spark):
        from beis_orp_data_service_spark.operators import dedup as dd

        long_a = " ".join(f"w{i}" for i in range(60))
        excerpt = " ".join(f"w{i}" for i in range(10, 30))  # inside long_a
        other = " ".join(f"z{i}" for i in range(40))
        docs = spark.createDataFrame(
            [(1, long_a), (2, excerpt), (3, other)], "doc_id long, text string"
        )
        out = {
            (r["a_id"], r["b_id"]): r["containment_milli"]
            for r in dd.containment_prefix_join(
                docs, "doc_id", "text", threshold_milli=800, ngram=3
            ).collect()
        }
        assert out == {(2, 1): 1000}  # excerpt contained; NOT the reverse

    def test_recall_matches_bruteforce(self, spark):
        import itertools

        from beis_orp_data_service_spark.operators import dedup as dd

        import random
        rnd = random.Random(11)
        vocab = [f"t{i}" for i in range(30)]
        rows = []
        for i in range(40):
            n = rnd.randint(5, 25)
            rows.append((i, " ".join(rnd.choice(vocab) for _ in range(n))))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["a_id"], r["b_id"]): r["containment_milli"]
            for r in dd.containment_prefix_join(
                docs, "doc_id", "text", threshold_milli=700, ngram=2
            ).collect()
        }

        def bigrams(text):
            t = text.lower().split()
            if len(t) < 2:
                return {" ".join(t)}
            return {" ".join(t[i : i + 2]) for i in range(len(t) - 1)}

        sets = {i: bigrams(txt) for i, txt in rows}
        exact = {}
        for a, b in itertools.permutations(sets, 2):
            c = 1000 * len(sets[a] & sets[b]) // len(sets[a])
            if c >= 700:
                exact[(a, b)] = c
        assert got == exact

    def test_binary_tf_features_identical_without_distinct(self, spark):
        """r14: _minhash_featurize dropped its per-row array_distinct —
        with binary=True HashingTF, repeated grams map to the same
        index with value 1.0, so features (and sidx) are bit-identical.
        Pin that equality on repetition-heavy and tiny docs."""
        from pyspark.ml.feature import HashingTF, NGram
        from pyspark.sql import functions as F

        from beis_orp_data_service_spark.operators import dedup as dd

        rows = [
            (1, "abcabcabcabcabc"),
            (2, "aaaaaaaaaaaaaa"),
            (3, "abcde"),
            (4, "xy"),  # sub-SHINGLE_K: dropped by both spellings
            (5, "the cat sat on the mat the cat sat on the mat"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        chars = docs.select(
            "doc_id", F.split(F.col("text"), "").alias("_chars")
        )
        ng = NGram(
            n=dd.SHINGLE_K, inputCol="_chars", outputCol="_grams"
        ).transform(chars)
        tf = lambda d: (  # noqa: E731
            HashingTF(
                inputCol="shingles",
                outputCol="features",
                numFeatures=1 << 18,
                binary=True,
            )
            .transform(d)
            .select("doc_id", F.col("features").cast("string").alias("f"))
        )
        withd = ng.select(
            "doc_id", F.array_distinct("_grams").alias("shingles")
        ).where(F.size("shingles") > 0)
        nod = ng.select(
            "doc_id", F.col("_grams").alias("shingles")
        ).where(F.size("shingles") > 0)
        assert sorted(map(tuple, tf(nod).collect())) == sorted(
            map(tuple, tf(withd).collect())
        )

    def test_codegen_shingles_match_array_spelling(self, spark):
        """r14: the codegen exploded shingle builder (slice×n +
        arrays_zip + explode + concat_ws + distinct) must emit EXACTLY
        the rows of the previous array spelling
        (lc_tokens + _word_ngram_set_expr, exploded) — real docs plus
        blank / null / sub-n / repeated-gram / \\x0B edge cases, for
        n in (1, 2, 3)."""
        from pyspark.sql import functions as F

        from beis_orp_data_service_spark.functions.text import (
            LC_TOKEN_SPLIT,
            lc_tokens,
        )
        from beis_orp_data_service_spark.operators import dedup as dd

        rows = [
            (1, "a b c d e"),
            (2, "a b"),
            (3, "x"),
            (4, ""),
            (5, "  \t "),
            (6, None),
            (7, "a a a b"),
            (8, "one two three two one two three"),
            (9, "A\x0bB\fC d"),
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        for n in (1, 2, 3):
            old = (
                docs.select(
                    F.col("doc_id").alias("_id"),
                    lc_tokens("text").alias("_toks"),
                )
                .where(F.size("_toks") > 0)
                .select(
                    "_id",
                    F.expr(dd._word_ngram_set_expr("_toks", n)).alias("_set"),
                )
                .where(F.size("_set") > 0)
                .select("_id", F.explode("_set").alias("tok"))
            )
            stripped = F.regexp_replace(
                F.lower(F.col("text")),
                r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$",
                "",
            )
            tk = F.split(stripped, LC_TOKEN_SPLIT)
            if n == 1:
                new = docs.where(stripped != "").select(
                    F.col("doc_id").alias("_id"), F.explode(tk).alias("tok")
                )
            else:
                win = F.greatest(F.size(tk) - F.lit(n - 1), F.lit(1))
                z = F.arrays_zip(
                    *[F.slice(tk, j + 1, win).alias(f"t{j}") for j in range(n)]
                )
                new = (
                    docs.where(stripped != "")
                    .select(F.col("doc_id").alias("_id"), F.explode(z).alias("_z"))
                    .select(
                        "_id",
                        F.concat_ws(
                            " ", *[F.col(f"_z.t{j}") for j in range(n)]
                        ).alias("tok"),
                    )
                )
            assert sorted(map(tuple, new.distinct().collect())) == sorted(
                map(tuple, old.collect())
            ), f"ngram={n}"

    def test_bad_ngram(self, spark):
        import pytest

        from beis_orp_data_service_spark.operators import dedup as dd

        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="ngram"):
            dd.containment_prefix_join(docs, "doc_id", "text", ngram=0)


class TestMinhashLshJoin:
    def test_planted_perturbed_probes_hit_sources(self, spark):
        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import dedup as dd

        import pyspark.sql.functions as F

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        probes = docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tiny suffix")).alias("text"),
        )
        out = dd.minhash_lsh_join_mllib(
            docs, probes, "doc_id", "text", jaccard_distance_threshold=0.5
        ).collect()
        hits = {(r["probe_id"], r["corpus_id"]) for r in out}
        expected_sources = {
            r["doc_id"] for r in docs.where(F.col("doc_id") % 10 == 0).collect()
        }
        for src in expected_sources:
            assert (src + 1_000_000, src) in hits, f"probe missed source {src}"
        for p, c in hits:
            assert p >= 1_000_000 and c < 1_000_000  # bipartite orientation

    def test_manual_join_matches_mllib_approx_join(self, spark):
        # r14 optimization: the manual approxSimilarityJoin spelling
        # (skinny (id, table, minhash) bucket entries + ID-pair dedupe
        # + array_intersect verify) must be BIT-EQUAL to MLlib's
        # approxSimilarityJoin — same candidate set, same strict
        # `< threshold` filter, same double jaccard distance — on both
        # the self-join and the bipartite shapes.
        from pyspark.ml.feature import MinHashLSH

        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import dedup as dd

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        corpus = docs.filter(F.col("doc_id") % 5 == 0)
        probes = corpus.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" probe suffix")).alias("text"),
        )

        def mllib_reference(feats_a, feats_b, model, thr, a_name, b_name):
            joined = model.approxSimilarityJoin(
                model.transform(feats_a),
                model.transform(feats_b),
                thr,
                distCol="jaccard_distance",
            )
            return sorted(
                (r[0], r[1], r[2])
                for r in joined.select(
                    F.col("datasetA.doc_id"),
                    F.col("datasetB.doc_id"),
                    "jaccard_distance",
                ).collect()
            )

        lsh = MinHashLSH(
            inputCol="features", outputCol="hashes", numHashTables=8, seed=1
        )

        # self-join shape (minhash_lsh_pairs_mllib): MLlib keeps both
        # orientations + self-pairs; restrict to a<b like the operator
        feats = dd._minhash_featurize(corpus, "doc_id", "text", 1 << 18)
        model = lsh.fit(feats)
        want = [
            t
            for t in mllib_reference(feats, feats, model, 0.6, "a", "b")
            if t[0] < t[1]
        ]
        got = sorted(
            (r["a_id"], r["b_id"], r["jaccard_distance"])
            for r in dd.minhash_lsh_pairs_mllib(corpus, "doc_id", "text").collect()
        )
        assert got == want and len(got) > 0

        # bipartite shape (minhash_lsh_join_mllib / decontaminate)
        pfeats = dd._minhash_featurize(probes, "doc_id", "text", 1 << 18)
        want2 = mllib_reference(pfeats, feats, model, 0.5, "p", "c")
        got2 = sorted(
            (r["probe_id"], r["corpus_id"], r["jaccard_distance"])
            for r in dd.minhash_lsh_join_mllib(
                corpus, probes, "doc_id", "text", jaccard_distance_threshold=0.5
            ).collect()
        )
        assert got2 == want2 and len(got2) > 0

    def test_disjoint_probe_finds_nothing(self, spark):
        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import dedup as dd

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        probes = spark.createDataFrame(
            [(9_000_000, "zzzz qqqq xxxx completely unrelated glyph soup 12345")],
            "doc_id long, text string",
        )
        out = dd.minhash_lsh_join_mllib(
            docs, probes, "doc_id", "text", jaccard_distance_threshold=0.3
        ).collect()
        assert out == []


class TestLshIndexEpochGuards:
    """Round-6 ADVICE: epoch uniqueness validated by construction, and
    the replay guard surviving mixed legacy/stamped index layouts."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_epoch_regression_raises_replay_passes(self, spark, tmp_path):
        from beis_orp_data_service_spark.operators import dedup as dd

        path = str(tmp_path / "idx_epoch")
        t = "epoch guard words flowing through this little document " * 2
        dd.lsh_index_write(self._docs(spark, [(1, t)]), path, epoch=0)
        dd.lsh_index_write(
            self._docs(spark, [(2, t + " more")]), path, mode="append", epoch=1
        )
        # at-least-once REPLAY of the current epoch: legitimate
        dd.lsh_index_write(
            self._docs(spark, [(2, t + " more")]), path, mode="append", epoch=1
        )
        # fresh-checkpoint restart (epoch ids reset) on the SAME index:
        # would silently exclude the old incarnation's epoch-0 rows
        # from probes — must raise, not corrupt recall
        import pytest as _pytest

        with _pytest.raises(ValueError, match="high-water epoch"):
            dd.lsh_index_write(
                self._docs(spark, [(3, t)]), path, mode="append", epoch=0
            )

    def test_overwrite_at_the_high_water_epoch_keeps_the_mark(self, spark, tmp_path):
        """An overwrite deletes ``_epochs`` with the rest of the index.
        Rewriting at the current epoch must commit the mark again, or a
        fresh-checkpoint append at epoch 0 would pass the guard."""
        import pytest as _pytest

        from beis_orp_data_service_spark.operators import dedup as dd

        path = str(tmp_path / "idx_rewrite")
        t = "rewrite words flowing through this little document " * 2
        dd.lsh_index_write(self._docs(spark, [(1, t)]), path, epoch=3)
        dd.lsh_index_write(self._docs(spark, [(2, t)]), path, epoch=3)
        with _pytest.raises(ValueError, match="high-water epoch"):
            dd.lsh_index_write(
                self._docs(spark, [(3, t)]), path, mode="append", epoch=0
            )

    def test_crashed_mark_commit_keeps_the_previous_mark(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash while committing epoch 6's high-water mark leaves
        epoch 5's mark in place, so a fresh-checkpoint write of epoch 0
        is still refused."""
        import pytest as _pytest

        from beis_orp_data_service_spark.operators import dedup as dd
        from beis_orp_data_service_spark.sources import hadoop_fs as hfs

        path = str(tmp_path / "idx_crash")
        t = "crash window words flowing through this little document " * 2
        dd.lsh_index_write(self._docs(spark, [(1, t)]), path, epoch=5)

        def crash(*_a, **_k):
            raise OSError("simulated crash before the rename")

        with monkeypatch.context() as m:
            m.setattr(hfs, "write_bytes_rename", crash)
            with _pytest.raises(OSError, match="simulated crash"):
                dd.lsh_index_write(
                    self._docs(spark, [(2, t)]), path, mode="append", epoch=6
                )
        with _pytest.raises(ValueError, match="high-water epoch"):
            dd.lsh_index_write(
                self._docs(spark, [(3, t)]), path, mode="append", epoch=0
            )

    def test_every_index_file_has_the_epoch_column(self, spark, tmp_path):
        """Unstamped and stamped writes share one row schema: every
        parquet file of the index carries ``_epoch``."""
        import glob

        import pyarrow.parquet as pq

        from beis_orp_data_service_spark.operators import dedup as dd

        path = str(tmp_path / "idx_schema")
        t = "one schema words flowing through this little document " * 2
        dd.lsh_index_write(self._docs(spark, [(1, t)]), path)
        dd.lsh_index_write(
            self._docs(spark, [(2, t + " more")]), path, mode="append", epoch=3
        )
        files = glob.glob(f"{path}/band=*/*.parquet")
        assert files
        assert all("_epoch" in pq.read_schema(f).names for f in files)

    def test_exclude_epoch_survives_mixed_legacy_index(self, spark, tmp_path):
        """An index with an unstamped generation (``_epoch`` NULL) plus a
        stamped append: the probe's replay guard excludes exactly the
        stamped epoch's rows while unstamped rows keep answering."""
        from beis_orp_data_service_spark.operators import dedup as dd

        path = str(tmp_path / "idx_mixed")
        t1 = "legacy generation text shared across probe and index " * 2
        t2 = "stamped generation text shared across probe and index " * 2
        dd.lsh_index_write(self._docs(spark, [(1, t1)]), path)  # legacy
        dd.lsh_index_write(
            self._docs(spark, [(2, t2)]), path, mode="append", epoch=7
        )
        probe = self._docs(spark, [(10, t1), (20, t2)])
        with_guard = {
            (r.index_id, r.probe_id)
            for r in dd.lsh_index_probe(
                spark, path, probe, exclude_epoch=7
            ).collect()
        }
        # epoch-7 rows excluded from probes; legacy rows still answer
        assert (1, 10) in with_guard
        assert all(idx != 2 for idx, _ in with_guard)
        without_guard = {
            (r.index_id, r.probe_id)
            for r in dd.lsh_index_probe(spark, path, probe).collect()
        }
        assert (2, 20) in without_guard


class TestRepeatedSpans:
    def test_shared_prefix_spans_surface(self, spark):
        """Docs 1 and 2 share an identical 48-char all-'S' prefix
        (64-char texts): the shared windows at offsets 0 and 16 read
        the same text, the offset-32 windows differ. Doc 3 is
        disjoint, doc 4 is shorter than the window width — neither
        contributes a surviving span."""
        import hashlib

        from beis_orp_data_service_spark.operators import dedup as dd

        shared = "S" * 48
        docs = spark.createDataFrame(
            [
                (1, shared + "1" * 16),
                (2, shared + "2" * 16),
                (3, "z" * 64),
                (4, "short"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.span_h: (r.n_docs, r.n_occurrences)
            for r in dd.repeated_spans(docs).collect()
        }
        # offsets 0 and 16 both read the same 32-S span text, so they
        # collapse into ONE group with 4 occurrences across 2 docs;
        # doc 3's z-spans are single-doc and doc 4 is sub-width
        assert rows == {
            hashlib.md5(("S" * 32).encode()).hexdigest(): (2, 4),
        }

    def test_distinct_shared_windows(self, spark):
        """Non-degenerate shared prefix: two DISTINCT shared windows."""
        import hashlib

        from beis_orp_data_service_spark.operators import dedup as dd

        shared = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKL"  # 48
        assert len(shared) == 48
        docs = spark.createDataFrame(
            [(1, shared + "1" * 16), (2, shared + "2" * 16)],
            "doc_id long, text string",
        )
        rows = {
            r.span_h: (r.n_docs, r.n_occurrences)
            for r in dd.repeated_spans(docs).collect()
        }
        assert rows == {
            hashlib.md5(shared[0:32].encode()).hexdigest(): (2, 2),
            hashlib.md5(shared[16:48].encode()).hexdigest(): (2, 2),
        }

    def test_islands_exact_bounds(self, spark):
        """Maximal-span islands on a constructed overlap: docs 1 and 2
        share a 96-char region (grid-aligned), doc 1 also shares a
        SEPARATE single window with doc 3 further in — two islands for
        doc 1 with exact (start, len, n_windows), one each for 2/3."""
        from beis_orp_data_service_spark.operators import dedup as dd

        rep = "".join(chr(ord("a") + i % 23) for i in range(96))
        tailw = "W" * 32  # the second, disjoint shared window
        # doc1: [rep][16 filler][tailw] ; doc2: [rep] ; doc3:
        # [48 filler][tailw] — tailw grid-aligned in both (112 ≡ 0,
        # 48 ≡ 0 mod 16)
        docs = spark.createDataFrame(
            [
                (1, rep + "-" * 16 + tailw),
                (2, rep),
                (3, "/" * 48 + tailw),
            ],
            "doc_id long, text string",
        )
        rows = {
            (r.doc_id, r.span_start): (r.span_len, r.n_windows)
            for r in dd.repeated_span_islands(docs).collect()
        }
        # rep covers offsets 0..4 (windows at 1,17,33,49,65): len 96.
        # tailw in doc1 at char 113 = offset 7; in doc3 at 49 = off 3.
        assert rows == {
            (1, 1): (96, 5),
            (2, 1): (96, 5),
            (1, 113): (32, 1),
            (3, 49): (32, 1),
        }

    def test_declared_plant_sites_pin(self, spark):
        """Every planted twin must surface an island covering its
        whole copied region at grid resolution. Expected coverage is
        computed per twin from the SOURCE text length (short docs copy
        less than 100 chars, so they legitimately share fewer
        windows); islands may start at 1 (all twins share the 16-char
        plant prefix, whose windows repeat across twins and fuse with
        the copied region)."""
        from beis_orp_data_service_spark import declared
        from beis_orp_data_service_spark.catalog import load_table
        from tests.conftest import SF_SMOKE

        W, S, PFX = 32, 16, 16

        def expected_cov_end(src_len: int) -> int | None:
            """Last covered twin char of the guaranteed shared run:
            twin windows at offsets o ≥ 1 whose content lies inside
            the copied region AND whose source-side mirror window
            exists on the source grid."""
            copied = min(100, src_len)
            tl = PFX + copied
            shared = [
                o
                for o in range(1, (tl - W) // S + 1)
                if S * o + W <= PFX + copied
                and S * (o - 1) + W <= src_len
            ]
            return S * max(shared) + W if shared else None

        src_len = {
            r.doc_id: len(r.text)
            for r in load_table(spark, SF_SMOKE, "documents")
            .select("doc_id", "text")
            .collect()
        }
        rows = declared.REGISTRY["dup_spans_maximal"].fn(
            spark, SF_SMOKE
        ).collect()
        per_doc: dict[int, list] = {}
        for r in rows:
            per_doc.setdefault(r.doc_id, []).append(r)

        checked = 0
        for did, sl in src_len.items():
            if did % 25 != 0:
                continue
            want = expected_cov_end(sl)
            if want is None:
                continue  # sub-width source: no guaranteed window
            islands = per_doc.get(did + 50_000_000, [])
            assert islands, (did, sl)
            best = max(
                islands, key=lambda r: r.span_start + r.span_len
            )
            assert best.span_start <= PFX + 1, (did, islands)
            assert best.span_start + best.span_len - 1 >= want, (
                did,
                sl,
                want,
                islands,
            )
            # the source doc mirrors the shared run from char 1
            src_best = per_doc.get(did, [])
            assert any(r.span_start == 1 for r in src_best), did
            checked += 1
        assert checked >= 5  # the plant population is real
