"""Tests for the training-data pipeline ops: dedup, similarity, text, multimodal."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from palimpzest_spark.functions import dedup, multimodal, similarity
from palimpzest_spark.functions import text as X


@pytest.fixture(scope="module")
def docs(spark):
    """Planted corpus: exact dups, near dups, and distinct docs."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")  # 1-word edit → high jaccard
    rows = [
        (0, base),
        (1, base),                      # exact dup of 0
        (2, "  " + base + "  "),        # whitespace-normalized dup of 0
        (3, near),                      # near dup of 0
        (4, "completely different content about spark streaming merge engines"),
        (5, "unrelated short text"),
        (6, base),                      # another exact dup
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs).toPandas().sort_values("doc_id")
    # 0,1,2,6 collapse to 0; 3,4,5 survive
    assert out["doc_id"].tolist() == [0, 3, 4, 5]


def test_ngram_jaccard_pairs(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in got and (0, 6) in got and (1, 6) in got  # exact dups
    assert (0, 3) in got  # near dup
    assert not any(4 in p or 5 in p for p in got)


def test_ngram_jaccard_exact_recall_vs_bruteforce(spark):
    """The prefix-filtered join must equal brute-force all-pairs Jaccard —
    including pairs the r1 length-bucket blocking missed (a near-dup whose
    1-word edit pushes it across a floor(len/16) boundary) and docs with
    whitespace runs."""
    import itertools
    import re

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(12):
        body = " ".join(words[(i % 3):] + words[: (i % 3)])
        rows.append((i, body))
    # straddle: doc 100 vs 101 differ by one LONGER word → different len bucket
    rows.append((100, "one two three four five six seven eight nine ten"))
    rows.append((101, "one two three four five six seven eight nine tremendous"))
    rows.append((102, "one  two\tthree four\n five six seven eight nine ten"))  # ws runs
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    t, n = 0.6, 3

    def grams(s):
        toks = re.split(r"\s+", s.strip())
        k = max(len(toks) - (n - 1), 1)
        return {" ".join(toks[i : i + n]) for i in range(k)}

    g = {i: grams(s) for i, s in rows}
    expect = set()
    for a, b in itertools.combinations(sorted(g), 2):
        j = len(g[a] & g[b]) / len(g[a] | g[b])
        if j >= t:
            expect.add((a, b))
    got = dedup.ngram_jaccard_pairs(df, threshold=t, n=n).toPandas()
    got_pairs = set(zip(got.id_a, got.id_b))
    assert got_pairs == expect
    assert (100, 101) in expect, "fixture must exercise the bucket-straddle case"
    assert (100, 102) in expect, "fixture must exercise whitespace runs"


def test_minhash_lsh_pairs(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in got and (0, 6) in got
    assert (0, 3) in got  # near dup caught by banding
    assert not any(4 in p or 5 in p for p in got)
    # exact dups have identical signatures
    exact = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]
    assert (exact["est_jaccard"] == 1.0).all()


def test_minhash_lsh_pairs_repeated_ids_emit_no_self_pairs(spark, docs):
    """A doc id that repeats in the input (the same doc twice, or two docs
    sharing an id) lands twice in its LSH buckets; the pair expansion must
    still emit only id_a < id_b, never (id, id)."""
    rows = [tuple(r) for r in docs.collect()]
    base = rows[0][1]
    repeated = spark.createDataFrame(
        pd.DataFrame(rows + [(0, base), (3, base), (4, base)], columns=["doc_id", "text"])
    )
    pairs = dedup.minhash_lsh_pairs(repeated, threshold=0.5).toPandas()
    assert len(pairs) > 0
    assert (pairs.id_a < pairs.id_b).all(), pairs[pairs.id_a >= pairs.id_b]
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert {(0, 1), (0, 3), (0, 4)} <= got


def test_minhash_deterministic_across_runs(spark, docs):
    s1 = dedup.minhash_signatures(docs).toPandas().set_index("id")["signature"]
    s2 = dedup.minhash_signatures(docs).toPandas().set_index("id")["signature"]
    for i in s1.index:
        assert list(s1[i]) == list(s2[i])


def test_minhash_jvm_plan_hashes_grams_once(spark, docs):
    """The default signature tier must evaluate the shingling + string hash
    ONCE per row inside the JVM — not have CollapseProject re-inline the
    gram expression into every permutation (that would re-split/re-join the
    text 64x per row) — and cross the Python boundary EXACTLY ONCE, with
    only (id, gram-hash array) shipped: the r6 Arrow stage that replaced the
    64 interpreted HOF rehash passes (bit-identity with the r5 expression is
    pinned by tests/test_r06_optimizations.py)."""
    # parquet-backed source: a LocalRelation fixture would be constant-folded
    # by ConvertToLocalRelation, leaving no projects to inspect
    pq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = dedup.minhash_signatures(pq)  # default tier = fused Arrow kernel
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    # r6b: NO interpreted HOF shingling left in the JVM plan at all — the
    # tokenize/gram/hash/rehash chain is one vectorized Arrow kernel
    assert "array_join" not in plan, plan
    assert plan.count("split(") == 0, plan

    # exactly one Python crossing (the fused kernel), nothing else
    phys = sigs._jdf.queryExecution().executedPlan().toString()
    assert phys.count("MapInArrow") == 1, phys
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys, phys


def test_minhash_tiers_agree_on_dup_structure(spark, docs):
    """Both hash tiers (jvm codegen / md5 oracle) are different
    permutation families, but on the planted fixture each must find the
    same exact-dup and near-dup pairs and nothing else."""
    expect = {(0, 1), (0, 2), (1, 2), (0, 6), (1, 6), (2, 6), (0, 3), (1, 3), (2, 3), (3, 6)}
    for tier in ("jvm", "md5"):
        bh = "md5" if tier == "md5" else "xxhash64"
        pairs = dedup.minhash_lsh_pairs(
            docs, threshold=0.5, token_hash=tier, band_hash=bh
        ).toPandas()
        got = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
        assert got == expect, (tier, got)


def test_minhash_estimator_unbiased_on_token_lattice(spark):
    """Regression pin for the r5 permutation-family fix: the r1-r4
    ``(a*h+b) mod 2^61-1`` family with a < 2^31 was piecewise monotone in
    the 32-bit gram hash, so on a low-entropy shared-vocabulary lattice the
    per-permutation argmins coincided across UNRELATED documents and
    est_jaccard ran ~+0.5 biased (49 false near-dup pairs at t=0.5 on
    sf0.01). Avalanche families (xxhash64 / md5) must estimate
    true Jaccard within noise: |mean bias| well under the old +0.5."""
    import itertools
    import re

    rng = np.random.default_rng(11)
    vocab = [f"tok{j}" for j in range(40)]
    base = rng.choice(vocab, size=30, replace=True).tolist()
    rows = []
    for i in range(14):  # doc i = base with i token substitutions → jaccard spread
        toks = list(base)
        for pos in rng.choice(30, size=i, replace=False):
            toks[pos] = str(rng.choice(vocab))
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    def grams(s, n=3):
        toks = re.split(r"\s+", s.strip())
        return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}

    g = {i: grams(s) for i, s in rows}
    true_j = {
        (a, b): len(g[a] & g[b]) / len(g[a] | g[b])
        for a, b in itertools.combinations(sorted(g), 2)
    }
    for tier in ("jvm",):
        est = dedup.minhash_lsh_pairs(
            df, threshold=0.0, token_hash=tier
        ).toPandas()
        biases = [
            row.est_jaccard - true_j[(row.id_a, row.id_b)]
            for row in est.itertuples()
        ]
        assert biases, "banding must surface candidate pairs on a shared lattice"
        mean_bias = sum(biases) / len(biases)
        # 64 perms → per-pair sd ~ sqrt(j(1-j)/64) ≲ 0.063; mean over
        # many pairs is tighter. 0.1 is far below the broken family's +0.5.
        assert abs(mean_bias) < 0.1, (tier, mean_bias)


def test_simhash_pairs(spark, docs):
    pairs = dedup.simhash_pairs(docs, max_hamming=6).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in got and (0, 6) in got  # identical → hamming 0
    assert (0, 3) in got  # one-word edit → small hamming
    assert (0, 4) not in got and (0, 5) not in got


def test_embedding_neardup_and_lsh_topk(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    vecs = [
        (0, (base / np.linalg.norm(base)).tolist()),
        (1, ((base + 0.01 * rng.standard_normal(16)) / 1.0).tolist()),  # near dup
        (2, rng.standard_normal(16).tolist()),
        (3, rng.standard_normal(16).tolist()),
    ]
    pdf = pd.DataFrame(vecs, columns=["vec_id", "embedding"])
    df = spark.createDataFrame(pdf)
    pairs = similarity.embedding_neardup_pairs(df, threshold=0.95, bits=4).toPandas()
    got = {tuple(sorted((a, b))) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in got
    assert (2, 3) not in got

    # LSH top-k recovers the exact brute-force top-k on this corpus
    q = vecs[0][1]
    exact = similarity.embedding_top_k(df, "embedding", q, k=2).toPandas()
    approx = similarity.lsh_top_k(df, q, k=2, bits=4, multiprobe_hamming=2).toPandas()
    assert exact["vec_id"].tolist() == approx["vec_id"].tolist() == [0, 1]


def test_knn_join(spark):
    rng = np.random.default_rng(11)
    corpus = pd.DataFrame(
        {"vec_id": range(20), "embedding": [rng.standard_normal(8).tolist() for _ in range(20)]}
    )
    df = spark.createDataFrame(corpus)
    queries = [(100, corpus.embedding[5]), (101, corpus.embedding[7])]
    out = similarity.knn_join(df, queries, k=3).toPandas()
    top1 = out[out["rank"] == 1].set_index("query_id")["vec_id"]
    assert top1[100] == 5 and top1[101] == 7  # self is nearest
    assert (out.groupby("query_id").size() == 3).all()


def test_text_ops_match_duckdb(spark):
    import duckdb

    sf = "/root/testdata/sf0.01/documents.parquet"
    df = spark.read.parquet(sf)
    got = (
        df.select(
            "doc_id",
            X.token_count("text").alias("tok"),
            X.lang_id("text").alias("lang_pred"),
            F.expr(X.quality_score_sql("text", "spark")).alias("q"),
        )
        .orderBy("doc_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}'")
    want = con.execute(
        f"""SELECT doc_id, {X.token_count_sql('text', 'duckdb')} AS tok,
            {X.lang_id_sql('text', 'duckdb')} AS lang_pred,
            {X.quality_score_sql('text', 'duckdb')} AS q
            FROM documents ORDER BY doc_id"""
    ).fetchdf()
    assert (got["tok"].values == want["tok"].values).all()
    assert (got["lang_pred"].values == want["lang_pred"].values).all()
    assert (got["q"].values == want["q"].values).all()


def test_fingerprint_groups_exact_dups(spark, docs):
    out = docs.withColumn("fp", X.fingerprint("text")).toPandas()
    fp = out.set_index("doc_id")["fp"]
    assert fp[0] == fp[1] == fp[2] == fp[6]
    assert fp[0] != fp[3] and fp[0] != fp[4]


def test_multimodal_plumbing(spark):
    pdf = pd.DataFrame(
        {
            "asset_id": [1, 2, 3],
            "modality": ["image", "image", "video"],
            "content": [b"\x89PNG fake bytes 1", b"\x89PNG fake bytes 2", b"RIFF fake"],
            "mime": ["png", "png", "avi"],
            "width": [None, None, None],
            "height": [None, None, None],
            "duration_ms": pd.array([None, None, 4000], dtype="Int64"),
        }
    )
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(df, dim=8).toPandas()
    assert feats["features"].map(len).eq(8).all()
    # deterministic: same bytes → same features
    again = multimodal.extract_features(df, dim=8).toPandas()
    assert feats.set_index("asset_id")["features"].map(tuple).equals(
        again.set_index("asset_id")["features"].map(tuple)
    )
    # real decoder is an explicit stub
    with pytest.raises(NotImplementedError):
        multimodal.extract_features(df, decode="real")

    frames = multimodal.sample_frames(df, every_ms=1000).toPandas()
    assert (frames[frames.asset_id == 3]["frame_idx"].max()) == 3  # 4000ms/1000
    assert set(frames.columns) == {"asset_id", "frame_idx", "frame_ts_ms", "frame_bytes"}


def test_feedgen_payloads_are_valid_json():
    """The vectorized payload assembly must produce byte-valid JSON."""
    import glob
    import json
    import tempfile

    from palimpzest_spark.cdc import feedgen

    with tempfile.TemporaryDirectory() as d:
        feedgen.gen_change_feed(d, n_events=2000, n_convs=50, n_files=2)
        dfs = pd.concat([pd.read_parquet(p) for p in glob.glob(d + "/*.parquet")])
    n_parsed = 0
    for p in dfs["payload"]:
        if p is not None:
            body = json.loads(p)  # raises on malformed JSON
            assert {"conv_id", "turn_idx", "role", "text", "tool"} <= set(body)
            n_parsed += 1
    assert n_parsed > 0


def test_jpeg_sof_metadata_and_image_metadata_dispatch(spark):
    """JPEG SOF header walk (ITU-T T.81 B.2): width/height/channels from a
    synthesized minimal JPEG; image_metadata dispatches PNG vs JPEG vs
    garbage per row."""
    import struct

    import numpy as np

    from palimpzest_spark.functions import multimodal
    from palimpzest_spark.sources.jpeg_lite import jpeg_metadata
    from palimpzest_spark.sources.png_lite import encode_png

    def make_jpeg(w, h, ncomp=3, marker=0xC0):
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof = (
            bytes([0xFF, marker])
            + struct.pack(">H", 8 + 3 * ncomp)
            + b"\x08"
            + struct.pack(">HH", h, w)
            + bytes([ncomp])
            + b"\x00" * (3 * ncomp)
        )
        return b"\xff\xd8" + app0 + sof

    assert jpeg_metadata(make_jpeg(640, 480)) == (640, 480, 3)
    assert jpeg_metadata(make_jpeg(31, 17, ncomp=1)) == (31, 17, 1)
    # progressive (SOF2) parses the same frame header
    assert jpeg_metadata(make_jpeg(100, 50, marker=0xC2)) == (100, 50, 3)
    # DHT shares the 0xCn space but is NOT a frame header
    dht = b"\xff\xd8" + b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"
    assert jpeg_metadata(dht + make_jpeg(9, 9)[2:]) == (9, 9, 3)
    assert jpeg_metadata(b"\x89PNG\r\n") is None
    assert jpeg_metadata(b"\xff\xd8\xff") is None  # truncated

    png = encode_png(np.zeros((5, 7, 3), dtype=np.uint8))
    rows = [(0, png), (1, make_jpeg(12, 8)), (2, b"not an image")]
    df = spark.createDataFrame(rows, "asset_id long, content binary")
    got = {
        r["asset_id"]: (r["width"], r["height"], r["channels"])
        for r in multimodal.image_metadata(df).collect()
    }
    assert got[0] == (7, 5, 3)
    assert got[1] == (12, 8, 3)
    assert got[2] == (None, None, None)


def test_winnow_guarantee_and_pairs(spark):
    """Winnowing guarantee (SIGMOD'03): a shared passage of length >= w+k-1
    normalized chars yields >= 1 shared selected fingerprint; documents with
    no common k-gram share none."""
    import random

    rng = random.Random(7)
    k, w = 24, 8
    passage = "the quick brown fox jumps over the lazy dog again and again"

    def salad(seed, n):
        r = random.Random(seed)
        vocab = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
                 "golf", "hotel", "india", "juliet"]
        return " ".join(r.choice(vocab) for _ in range(n))

    rows = [
        (0, salad(1, 40) + " " + passage + " " + salad(2, 40)),
        (1, salad(3, 40) + " " + passage + " " + salad(4, 40)),
        # disjoint alphabets → no shared k-gram at all
        (2, "zzz " * 60),
        (3, "qqq " * 60),
        (4, "short"),  # shorter than k after normalization → no fingerprints
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    fps = dedup.winnow_fingerprints(df, k=k, w=w).toPandas()
    by_doc = {i: set(fps[fps.id == i].fingerprint) for i in range(5)}
    assert len(passage.replace(" ", "")) >= w + k - 1
    assert by_doc[0] & by_doc[1], "shared passage must share a fingerprint"
    assert not (by_doc[2] & by_doc[3])
    assert by_doc[4] == set()

    pairs = dedup.winnow_overlap_pairs(df, k=k, w=w, min_shared=1).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert (0, 1) in got
    assert (2, 3) not in got

    # partitioning-invariant: same pairs from a repartitioned input
    pairs2 = dedup.winnow_overlap_pairs(
        df.repartition(7), k=k, w=w, min_shared=1
    ).toPandas()
    assert set(zip(pairs2.id_a, pairs2.id_b)) == got
    _ = rng  # keep the seeded generator's intent obvious


def test_winnow_max_df_stop_grams(spark):
    """A fingerprint present in more than max_df docs is boilerplate and must
    not produce pairs; unique overlaps survive the cap."""
    boiler = "this exact boilerplate footer appears everywhere in the corpus"
    uniq = "completely singular shared sentence only in two documents here"
    rows = [(i, f"document body {i} " + boiler) for i in range(6)]
    rows += [(10, "aaa " + uniq + " tail ten"), (11, "bbb " + uniq + " tail eleven")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    pairs = dedup.winnow_overlap_pairs(
        df, k=24, w=8, min_shared=1, max_df=3
    ).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert (10, 11) in got
    assert not any(a < 6 and b < 6 for a, b in got), (
        "boilerplate-only pairs must be removed by the df cap"
    )


_PAIR_PLANS = {
    # name: (pair plan on the ``docs`` fixture, Spark-job budget)
    "minhash_lsh_pairs": (lambda d: dedup.minhash_lsh_pairs(d, threshold=0.5), 3),
    "simhash_pairs": (lambda d: dedup.simhash_pairs(d, max_hamming=6), 3),
    "winnow_overlap_pairs": (
        lambda d: dedup.winnow_overlap_pairs(d, k=8, w=4, min_shared=1, max_df=4), 3
    ),
    "ngram_jaccard_pairs": (lambda d: dedup.ngram_jaccard_pairs(d, threshold=0.5), 6),
}


@pytest.mark.parametrize("name", sorted(_PAIR_PLANS))
def test_pair_plan_persists_nothing_within_job_budget(spark, docs, name, count_jobs):
    """A pair function returns a plain lazy plan: collecting it leaves
    Spark's cache empty and starts at most its pinned number of jobs, so a
    new persist, collect or count fails here."""
    plan, budget = _PAIR_PLANS[name]
    spark.catalog.clearCache()
    jobs, rows = count_jobs(lambda: plan(docs).collect())
    assert rows, "vacuous: the plan found no pairs"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert jobs <= budget, f"{name} started {jobs} Spark jobs"


def test_jsonl_csv_sources_roundtrip_and_corrupt(spark, tmp_path):
    """jsonl_files/csv_files: lossless free-text roundtrip; corrupt JSONL
    lines surface in _corrupt_record instead of failing the scan."""
    import pyspark.sql.types as T

    from palimpzest_spark.sources.files import csv_files, jsonl_files

    rows = [
        (1, 'line one\nline "two"', "en"),
        (2, "unicode é中文, comma, and\ttab", "fr"),
        (3, None, "de"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )

    jd = str(tmp_path / "j")
    df.write.json(jd)
    back = jsonl_files(spark, jd, schema=schema)
    assert sorted((r.doc_id, r.text, r.lang) for r in back.collect()) == sorted(rows)

    cd = str(tmp_path / "c")
    df.write.option("header", True).csv(cd)
    backc = csv_files(spark, cd, schema=schema)
    assert sorted(
        (r.doc_id, r.text, r.lang) for r in backc.collect()
    ) == sorted(rows)

    # corrupt line: PERMISSIVE scan keeps good rows, flags the bad one
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part.jsonl").write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en"}\nnot json at all\n'
    )
    cschema = schema.add("_corrupt_record", T.StringType())
    got = jsonl_files(spark, str(bad), schema=cschema).collect()
    assert len(got) == 2
    assert sum(1 for r in got if r._corrupt_record is not None) == 1


def test_wav_ima_adpcm_roundtrip():
    """IMA ADPCM (fmt 0x11): encode a sine with the spec's mirror encoder,
    decode with the block decoder — reconstruction must track the signal
    closely (ADPCM is lossy but a 440 Hz sine stays > 30 dB SNR), and the
    header walk must report the right frame count and duration."""
    import numpy as np

    from palimpzest_spark.sources.wav_lite import (
        decode_wav,
        encode_wav_ima_adpcm,
        wav_metadata,
    )

    rate = 16_000
    t = np.arange(rate)  # 1 second
    sig = 0.6 * np.sin(2 * np.pi * 440.0 * t / rate)
    raw = encode_wav_ima_adpcm(sig, rate=rate)

    meta = wav_metadata(raw)
    assert meta is not None
    r, ch, dur_ms = meta
    assert r == rate and ch == 1
    assert abs(dur_ms - 1000) < 50

    rr, x = decode_wav(raw)
    assert rr == rate
    y = x[: len(sig), 0]
    n = min(len(y), len(sig))
    err = y[:n] - sig[:n]
    snr_db = 10 * np.log10(np.mean(sig[:n] ** 2) / max(np.mean(err**2), 1e-12))
    assert snr_db > 30, f"SNR {snr_db:.1f} dB too low"


def test_png_adam7_interlaced_decode():
    """Adam7: build an interlaced PNG by hand (7 passes, filter-0
    scanlines, spec pass grid) and require decode_png to reassemble the
    exact original pixels."""
    import struct
    import zlib

    import numpy as np

    from palimpzest_spark.sources.png_lite import decode_png

    h, w, ch = 11, 13, 3
    img = (np.arange(h * w * ch, dtype=np.uint32) * 37 % 251).astype(np.uint8)
    img = img.reshape(h, w, ch)

    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    stream = bytearray()
    for x0, y0, dx, dy in passes:
        sub = img[y0::dy, x0::dx, :]
        if sub.size == 0:
            continue
        for row in sub:
            stream += b"\x00" + row.tobytes()

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1, RGB
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )

    ww, hh, cc, out = decode_png(png)
    assert (ww, hh, cc) == (w, h, ch)
    assert np.array_equal(out, img)


def test_png_palette_decode():
    """Color type 3: PLTE indexes expand to RGB."""
    import struct
    import zlib

    import numpy as np

    from palimpzest_spark.sources.png_lite import decode_png

    h, w = 5, 7
    plte = (np.arange(16 * 3, dtype=np.uint32) * 53 % 256).astype(np.uint8).reshape(16, 3)
    idx = (np.arange(h * w, dtype=np.uint32) * 7 % 16).astype(np.uint8).reshape(h, w)
    stream = bytearray()
    for row in idx:
        stream += b"\x00" + row.tobytes()

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(stream)))
        + chunk(b"IEND", b"")
    )
    ww, hh, cc, out = decode_png(png)
    assert (ww, hh, cc) == (w, h, 3)
    assert np.array_equal(out, plte[idx])


def test_png_bit_depths():
    """1/2/4-bit gray scale to 0-255; 4-bit palette indexes; 16-bit keeps
    the high byte."""
    import struct
    import zlib

    import numpy as np

    from palimpzest_spark.sources.png_lite import decode_png

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    def build(w, h, depth, ctype_code, rows_bits, extra=b""):
        stream = bytearray()
        for row in rows_bits:
            stream += b"\x00" + row
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype_code, 0, 0, 0))
            + extra
            + chunk(b"IDAT", zlib.compress(bytes(stream)))
            + chunk(b"IEND", b"")
        )

    # 1-bit gray, 10px wide: bits 1010101010 -> bytes 0b10101010, 0b10......
    png = build(10, 2, 1, 0, [bytes([0b10101010, 0b10000000])] * 2)
    _, _, cc, out = decode_png(png)
    assert cc == 1
    assert list(out[0, :, 0]) == [255, 0] * 5

    # 2-bit gray: values 0,1,2,3 -> 0,85,170,255
    png = build(4, 1, 2, 0, [bytes([0b00011011])])
    _, _, _, out = decode_png(png)
    assert list(out[0, :, 0]) == [0, 85, 170, 255]

    # 4-bit palette: indexes 0..3 map through PLTE
    plte = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250], [9, 9, 9]], dtype=np.uint8)
    png = build(4, 1, 4, 3, [bytes([0x01, 0x23])],
                extra=chunk(b"PLTE", plte.tobytes()))
    _, _, cc, out = decode_png(png)
    assert cc == 3
    assert np.array_equal(out[0], plte[[0, 1, 2, 3]])

    # 16-bit gray: high byte kept
    row = struct.pack(">HHH", 0x0102, 0x8090, 0xFFEE)
    png = build(3, 1, 16, 0, [row])
    _, _, _, out = decode_png(png)
    assert list(out[0, :, 0]) == [0x01, 0x80, 0xFF]


def test_bm25_matches_python_reference(spark):
    from palimpzest_spark.functions.retrieval import bm25_topk, bm25_topk_exact_py

    rows = [
        (1, "spark join hash join broadcast"),
        (2, "filter scan filter filter"),
        (3, "join filter"),
        (4, "completely unrelated words here about cats"),
        (5, "join join join join join join join join"),
        (6, "broadcast small table"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(df, ["join", "broadcast"], k=4).collect()]
    want = bm25_topk_exact_py(rows, ["join", "broadcast"], k=4)
    assert got == want
    # term spam is length-normalized: doc 5 must not dominate doc 1 by 8x
    scores = dict(got)
    assert 1 in scores and 5 in scores
    assert scores[5] < 2.5 * scores[1]


def test_token_index_lookup_prunes_and_matches(spark, tmp_path):
    from pyspark.sql import functions as F

    from palimpzest_spark.functions.retrieval import (
        token_index_lookup,
        write_token_index,
    )

    rows = [
        (1, "alpha beta gamma"),
        (2, "beta delta"),
        (3, "alpha alpha epsilon"),
        (4, "zeta eta"),
        (5, "Alpha BETA"),  # tokenizer lowercases
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    path = str(tmp_path / "tidx")
    write_token_index(df, path, n_buckets=16)

    got_any = sorted(r["id"] for r in
                     token_index_lookup(spark, path, ["alpha", "delta"]).collect())
    assert got_any == [1, 2, 3, 5]
    got_all = sorted(r["id"] for r in
                     token_index_lookup(spark, path, ["alpha", "beta"], mode="all").collect())
    assert got_all == [1, 5]

    # pruning: the executed plan must carry a partition filter on _tb and
    # select a strict subset of partitions (inputFiles() ignores partition
    # pruning, so assert on the physical scan node instead)
    pruned = token_index_lookup(spark, path, ["alpha"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines and any("_tb" in ln for ln in scan_lines), plan


def test_quality_quarantine_split(spark):
    from palimpzest_spark.functions.quality import audit_rules, quarantine

    rows = [
        (1, "click", 5.0),
        (2, "view", -3.0),      # range violation
        (3, None, 7.0),         # not_null violation
        (4, "bogus", 8.0),      # accepted_values violation
        (5, "click", 9.0),
        (5, "view", 1.0),       # duplicate id (both rows quarantined)
    ]
    df = spark.createDataFrame(rows, ["id", "etype", "v"])
    rules = [
        ("not_null", "etype"),
        ("accepted_values", "etype", ["click", "view"]),
        ("range", "v", 0.0, 100.0),
        ("unique", ["id"]),
    ]
    audit = {r["rule"]: r["violations"] for r in audit_rules(df, rules).collect()}
    assert audit == {
        "not_null(etype)": 1,
        "accepted_values(etype)": 1,
        "range(v)": 1,
        "unique(id)": 2,
    }
    clean, bad = quarantine(df, rules)
    assert sorted(r["id"] for r in clean.collect()) == [1]
    labels = {(r["id"], r["etype"]): list(r["_violated"]) for r in bad.collect()}
    assert labels[(2, "view")] == ["range(v)"]
    assert labels[(3, None)] == ["not_null(etype)"]
    assert labels[(4, "bogus")] == ["accepted_values(etype)"]
    assert labels[(5, "click")] == ["unique(id)"]


def test_jpeg_codec_roundtrip_and_features():
    """Baseline JPEG: mirror-encoder fixtures decode with high PSNR in
    gray, 4:4:4, and 4:2:0 (chroma upsampling); image feature extraction
    picks up JPEG bytes through the same real-decode path as PNG."""
    import numpy as np

    from palimpzest_spark.functions.multimodal import _png_features
    from palimpzest_spark.sources.jpeg_codec import decode_jpeg, encode_jpeg

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 10 * np.log10(255**2 / max(mse, 1e-9))

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    gray = ((yy * 3 + xx * 2) % 256).astype(np.uint8)
    ww, hh, cc, out = decode_jpeg(encode_jpeg(gray))
    assert (ww, hh, cc) == (w, h, 1)
    assert psnr(gray, out[:, :, 0]) > 40

    img = np.stack([
        (128 + 100 * np.sin(xx / 9.0)).astype(np.uint8),
        (128 + 100 * np.cos(yy / 7.0)).astype(np.uint8),
        ((xx + yy) % 256).astype(np.uint8),
    ], axis=2)
    for sub, floor in ((False, 35), (True, 30)):
        ww, hh, cc, out = decode_jpeg(encode_jpeg(img, subsample=sub))
        assert (ww, hh, cc) == (w, h, 3)
        assert psnr(img, out) > floor, (sub, psnr(img, out))

    # lossless (SOF3) still raises with the variant named
    import pytest as _pytest

    raw = bytearray(encode_jpeg(gray))
    sof = raw.index(b"\xff\xc0")
    raw[sof + 1] = 0xC3
    with _pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(bytes(raw))

    feats = _png_features(encode_jpeg(img), dim=16)
    assert feats is not None and feats[0] == w and feats[1] == h and feats[2] == 3


def test_jpeg_progressive_decode_matches_baseline_exactly():
    """Progressive (SOF2) reorganizes the SAME quantized coefficients into
    multiple scans (spectral selection + successive approximation), so
    decoding the progressive encoder's output must be pixel-IDENTICAL to
    decoding the baseline encoder's output for the same image — a
    codec-independent ground truth. Cases cover: interleaved DC first +
    refinement scans, AC spectral-selection first scans, AC refinement with
    inline correction bits, EOB runs (uniform image), ZRL windows in both
    first and refinement scans (sparse image), 4:2:0 where the
    non-interleaved component grid differs from the MCU-padded grid, and
    restart markers inside every scan type."""
    import numpy as np

    from palimpzest_spark.sources.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    cases = [
        ("gray random", rng.integers(0, 256, (13, 20), np.uint8), False, 0),
        ("color 4:4:4", rng.integers(0, 256, (21, 37, 3), np.uint8), False, 0),
        ("color 4:2:0", rng.integers(0, 256, (21, 37, 3), np.uint8), True, 0),
        ("uniform eob-runs", np.full((24, 24), 77, np.uint8), False, 0),
        ("sparse zrl", np.where(rng.random((64, 64)) > 0.99, 255, 80).astype(np.uint8), False, 0),
        ("restart every 2 MCUs", rng.integers(0, 256, (32, 32, 3), np.uint8), False, 2),
    ]
    for name, img, sub, ri in cases:
        bw, bh, bc, base = decode_jpeg(encode_jpeg(img, subsample=sub))
        pw, ph, pc, prog = decode_jpeg(
            encode_jpeg_progressive(img, subsample=sub, restart_interval=ri)
        )
        assert (bw, bh, bc) == (pw, ph, pc), name
        assert np.array_equal(base, prog), name


def test_jpeg_progressive_hand_ground_truth_and_eobrun_symbol():
    """Two checks that do not lean on the baseline decoder at all:

    - uniform gray 200: DC = (200-128)*8 = 576, quantized 576/16 = 36 with
      zero rounding error, all AC zero -> every reconstructed pixel is
      EXACTLY 200 (hand-computable through DCT/quant/IDCT).
    - the multi-block uniform image forces the encoder's EOB-run
      accumulation; instrument the Huffman decode to assert the EOBn
      (r >= 1) symbol 0x10 is actually consumed, pinning that fixtures
      exercise the decoder's run-length path, not just EOB0."""
    import numpy as np

    from palimpzest_spark.sources import jpeg_codec as J

    w0, h0, c0, out = J.decode_jpeg(J.encode_jpeg_progressive(np.full((8, 8), 200, np.uint8)))
    assert (w0, h0, c0) == (8, 8, 1)
    assert np.all(out == 200)

    seen: list[int] = []
    orig = J._huff_decode

    def spy(r, dec):
        sym = orig(r, dec)
        seen.append(sym)
        return sym

    # 78: (78-128)*8 = -400 is divisible by the DC quant step 16, so the
    # round trip is exact (uniform 77 would quantize with error)
    data = J.encode_jpeg_progressive(np.full((24, 24), 78, np.uint8))
    J._huff_decode = spy
    try:
        _, _, _, out = J.decode_jpeg(data)
    finally:
        J._huff_decode = orig
    assert np.all(out == 78)
    assert 0x10 in seen, "EOB1 run symbol never exercised by the fixture"


def test_pdf_tounicode_cid_extraction():
    """A CID/Identity-H-style PDF (hex-string 2-byte codes + a ToUnicode
    CMap with bfchar AND both bfrange forms) must extract the mapped
    unicode text; the legacy latin-1 path stays intact."""
    import zlib

    from palimpzest_spark.sources.pdf_lite import extract_pdf_text, make_simple_pdf

    # codes: 0x0001->'H', 0x0002..0x0004 -> 'e','f','g' (increment range),
    # 0x0010..0x0011 -> 'é','✓' (array range)
    cmap = b"""/CIDInit /ProcSet findresource begin
begincmap
1 begincodespacerange <0000> <FFFF> endcodespacerange
1 beginbfchar
<0001> <0048>
endbfchar
2 beginbfrange
<0002> <0004> <0065>
<0010> <0011> [<00E9> <2713>]
endbfrange
endcmap
"""
    content = b"BT <0001000200030004> Tj T* [<0010> <0011>] TJ ET"
    z = zlib.compress(content)
    zc = zlib.compress(cmap)
    pdf = (
        b"%PDF-1.7\n"
        b"1 0 obj << /Length " + str(len(z)).encode() + b" /Filter /FlateDecode >>\nstream\n"
        + z + b"\nendstream\nendobj\n"
        b"2 0 obj << /Length " + str(len(zc)).encode() + b" /Filter /FlateDecode >>\nstream\n"
        + zc + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    text = extract_pdf_text(pdf)
    assert "Hefg" in text
    assert "é✓" in text

    # simple latin-1 documents still extract unchanged
    simple = make_simple_pdf(["Hello world", "Second page"])
    t2 = extract_pdf_text(simple)
    assert "Hello world" in t2 and "Second page" in t2


def test_pdf_lzw_decode_stream():
    """LZWDecode streams (older generators) extract like Flate ones; the
    test LZW-compresses with a mirror encoder implementing the same
    EarlyChange variant."""
    from palimpzest_spark.sources.pdf_lite import _lzw_decode, extract_pdf_text

    def lzw_encode(data: bytes, early_change: int = 1) -> bytes:
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        width = 9
        out = []
        bits = []

        def emit(code):
            bits.append((code, width))

        emit(256)  # clear
        w = b""
        for b in data:
            c = bytes([b])
            if w + c in table:
                w += c
            else:
                emit(table[w])
                table[w + c] = next_code
                next_code += 1
                if next_code + early_change - 1 >= (1 << width):
                    if width < 12:
                        width += 1
                    else:
                        # table full: spec requires a Clear before overflow
                        emit(256)
                        table = {bytes([i]): i for i in range(256)}
                        next_code = 258
                        width = 9
                w = c
        if w:
            emit(table[w])
        emit(257)  # EOD
        acc = n = 0
        buf = bytearray()
        for code, wd in bits:
            acc = (acc << wd) | code
            n += wd
            while n >= 8:
                buf.append((acc >> (n - 8)) & 0xFF)
                n -= 8
        if n:
            buf.append((acc << (8 - n)) & 0xFF)
        return bytes(buf)

    content = b"BT (LZW works: the quick brown fox, the quick brown fox) Tj ET"
    assert _lzw_decode(lzw_encode(content)) == content

    # stress across the 9->10->11 bit width transitions (needs many new
    # table entries) with incompressible pseudo-random bytes
    import random

    rnd = random.Random(3)
    blob = bytes(rnd.randrange(256) for _ in range(5000))
    assert _lzw_decode(lzw_encode(blob)) == blob

    z = lzw_encode(content)
    pdf = (
        b"%PDF-1.4\n1 0 obj << /Length " + str(len(z)).encode()
        + b" /Filter /LZWDecode >>\nstream\n" + z + b"\nendstream\nendobj\n%%EOF"
    )
    assert "the quick brown fox" in extract_pdf_text(pdf)


def test_probe_buckets_honors_any_hamming_distance():
    """The multiprobe recall knob must expand for hamming > 2 (it was
    silently capped at 2) and stay exact: sum_{d<=h} C(bits, d) buckets."""
    from math import comb

    from palimpzest_spark.functions.similarity import probe_buckets

    q = 0b10110010
    for h in range(0, 5):
        got = probe_buckets(q, 8, h)
        assert len(got) == sum(comb(8, d) for d in range(h + 1)), h
        assert all(bin((b ^ q)).count("1") <= h for b in got)
    # hamming beyond bits saturates at the full bucket space
    assert len(probe_buckets(0, 4, 99)) == 16
