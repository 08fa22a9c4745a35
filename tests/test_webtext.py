"""Webtext operator tests: dedup, similarity, textstats, multimodal."""

from __future__ import annotations

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    df.createOrReplaceTempView("documents")
    return df


def _duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    return con


def test_minhash_lsh_finds_exact_dups(spark, docs):
    """Exact duplicate texts must share every band → appear as candidates."""
    from geostatssolvers_jl_spark.webtext.dedup import lsh_candidates_sql

    dup = spark.sql(
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents "
        "UNION ALL (SELECT doc_id + 100000, text FROM documents LIMIT 2000)"
    )
    dup.createOrReplaceTempView("dup_docs")
    cands = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in spark.sql(lsh_candidates_sql("spark", "dup_docs")).collect()
    }
    n_docs = docs.count()
    full_band_pairs = sum(1 for v in cands.values() if v == 4)
    assert full_band_pairs >= n_docs  # every clone pair shares all 4 bands


def test_minhash_signature_parity(spark, docs):
    from geostatssolvers_jl_spark.webtext.dedup import minhash_signature_sql

    srows = {r["doc_id"]: tuple(r)[1:] for r in
             spark.sql(minhash_signature_sql("spark")).collect()}
    con = _duck()
    drows = {r[0]: tuple(r)[1:] for r in
             con.execute(minhash_signature_sql("duck")).fetchall()}
    assert srows == drows


def test_simhash_similarity_property(spark, docs):
    """Near-identical texts get near-identical simhashes (low Hamming)."""
    from geostatssolvers_jl_spark.webtext.dedup import simhash_sql

    spark.sql(
        "SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 100000, text || ' tiny suffix' FROM documents"
    ).createOrReplaceTempView("near_docs")
    rows = {r["doc_id"]: r["simhash"] for r in
            spark.sql(simhash_sql("spark", "near_docs")).collect()}
    import numpy as np

    hams = []
    # deterministic sample: the first 50 ORIGINAL ids — dict order off
    # an unordered collect could surface the +100000 clones first and
    # leave the ham set empty
    for did in sorted(i for i in rows if i < 100000)[:50]:
        if did < 100000 and did + 100000 in rows:
            x = rows[did] ^ rows[did + 100000]
            hams.append(bin(x & 0xFFFFFFFF).count("1"))
    assert hams and np.mean(hams) < 6  # ≤ a few bits flip of 32


def test_lsh_bucket_recall(spark):
    """Hyperplane buckets: identical vectors share buckets; the bucketing
    is deterministic and matches DuckDB."""
    from geostatssolvers_jl_spark.webtext.similarity import bucket_sql

    spark.read.parquet(f"{SF}/embeddings.parquet").createOrReplaceTempView(
        "embeddings"
    )
    srows = {r["vec_id"]: r["bucket"] for r in
             spark.sql(bucket_sql("spark")).collect()}
    con = _duck()
    drows = {r[0]: r[1] for r in con.execute(bucket_sql("duck")).fetchall()}
    assert srows == drows
    assert 1 < len(set(srows.values())) <= 256


def test_multimodal_plumbing(spark):
    from geostatssolvers_jl_spark.sources.pages import load_pages
    from geostatssolvers_jl_spark.webtext.multimodal import (
        FakeCodec,
        RealCodecUnavailable,
        decode_images,
        decode_images_real,
    )

    pg = load_pages(spark, SF)
    out = decode_images(pg).collect()
    assert len(out) == pg.count()
    assert all(4 <= r["width"] <= 16 and 4 <= r["height"] <= 16 for r in out)
    assert all(len(r["thumb_md5"]) == 32 for r in out)
    # determinism of the stub codec
    img1 = FakeCodec.decode(b"payload")
    img2 = FakeCodec.decode(b"payload")
    assert (img1 == img2).all()
    # the real path is no longer a stub (r6: stdlib PPM/BMP/PNG codec) —
    # but page HTML is not a raster payload, so executing it still fails
    # loudly with RealCodecUnavailable from inside the batch
    assert RealCodecUnavailable is not None
    with pytest.raises(Exception, match="RealCodecUnavailable"):
        decode_images_real(pg).collect()


def test_fingerprint_prefix_sensitivity(spark, docs):
    from geostatssolvers_jl_spark.webtext.textstats import fingerprint_expr

    rows = spark.sql(
        f"SELECT {fingerprint_expr('text')} AS fp, "
        f"{fingerprint_expr(chr(39) + 'X' + chr(39) + ' || substr(text, 2)')} AS fp2 "
        f"FROM documents LIMIT 20"
    ).collect()
    assert all(r["fp"] != r["fp2"] for r in rows)  # first byte matters


def test_minhash128_planted_neardup_recall(spark):
    """Production MinHash-LSH (128 hashes, 32x4 fold-key banding) must
    recall planted near-duplicates and exclude unrelated docs."""
    from geostatssolvers_jl_spark.webtext.dedup import (
        lsh_candidates128_sql, ngram_jaccard_sql,
    )

    import numpy as np

    rng = np.random.default_rng(42)
    vocab = [f"w{i}" for i in range(500)]
    docs = []
    did = 0
    planted = []
    for g in range(12):
        base = list(rng.choice(vocab, 80))
        docs.append((did, " ".join(base)))
        orig = did
        did += 1
        # near-dup: perturb ~4 of 80 tokens (high jaccard)
        mut = list(base)
        for j in rng.choice(80, 4, replace=False):
            mut[j] = str(rng.choice(vocab))
        docs.append((did, " ".join(mut)))
        planted.append((orig, did))
        did += 1
    for _ in range(30):  # unrelated noise docs
        docs.append((did, " ".join(rng.choice(vocab, 80))))
        did += 1
    spark.createDataFrame(docs, "doc_id long, text string") \
        .createOrReplaceTempView("pl_docs")
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in spark.sql(lsh_candidates128_sql("spark", "pl_docs")).collect()
    }
    missed = [p for p in planted if p not in cand]
    assert not missed, f"LSH missed planted near-dups: {missed}"
    # exact jaccard of every candidate: no junk below 0.05
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in spark.sql(ngram_jaccard_sql("spark", "pl_docs")).collect()
    }
    low = [p for p in cand if jac.get(p, 0.0) < 0.05]
    assert len(low) <= max(1, len(cand) // 10), f"too many junk candidates: {low}"


def test_ann_topk_lsh_recall_vs_brute(spark):
    """Bucketed ANN top-1 must agree with brute-force cosine top-1 for a
    solid majority of queries (LSH recall bound)."""
    from geostatssolvers_jl_spark.webtext.similarity import (
        ann_topk_lsh_sql, cosine_topk_spark,
    )

    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .createOrReplaceTempView("embeddings")
    spark.sql(
        "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e "
        "FROM embeddings"
    ).createOrReplaceTempView("emb_t")
    brute = {
        r["qid"]: r["nid"]
        for r in spark.sql(
            cosine_topk_spark("emb_t", k=1, query_pred="q.vec_id < 100")
        ).collect()
    }
    ann = {
        r["qid"]: r["nid"]
        for r in spark.sql(ann_topk_lsh_sql("spark", k=1)).collect()
        if r["qid"] < 100
    }
    hits = sum(1 for q, n in brute.items() if ann.get(q) == n)
    assert hits >= 0.6 * len(brute), f"ANN top-1 recall too low: {hits}/{len(brute)}"


def test_multimodal_feature_ops(spark):
    """Multimodal plumbing: feature dims, frame explode counts, audio
    stats, and cross-run determinism (FakeCodec is a pure function of the
    payload bytes)."""
    from geostatssolvers_jl_spark.webtext.multimodal import (
        decode_audio, frame_features, image_features,
    )

    rows = [(f"u{i}", bytes([i] * (10 + i))) for i in range(12)]
    df = spark.createDataFrame(rows, "url string, html binary")

    feats = image_features(df, binary_col="html", id_col="url").collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == 22 for r in feats)
    hist = feats[0]["feature"][6:]
    assert abs(sum(hist) - 1.0) < 1e-9  # normalized histogram

    again = image_features(df, binary_col="html", id_col="url").collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))

    fr = frame_features(df, binary_col="html", id_col="url", n_frames=3)
    pdf = fr.toPandas()
    assert len(pdf) == 36
    assert set(pdf.frame_id) == {0, 1, 2}
    assert all(len(f) == 6 for f in pdf.feature)

    au = decode_audio(df, binary_col="html", id_col="url").collect()
    assert len(au) == 12
    assert all(r["rms"] > 0 and r["duration_s"] > 0 and r["peak"] >= r["rms"]
               for r in au)


def test_dedup_survives_short_and_empty_documents(spark):
    """One document with < k tokens previously killed the WHOLE Spark
    dedup job (sequence(1,0) is the descending [1,0]; slice at 0 throws)
    while the DuckDB dialect returned fine — r3 review, reproduced live."""
    from geostatssolvers_jl_spark.webtext.dedup import (
        dedup_verified_sql, minhash_signature_sql,
    )

    spark.createDataFrame(
        [(0, "hi"), (1, ""), (2, "one two"),
         (3, "a proper document with plenty of tokens to shingle"),
         (4, "a proper document with plenty of tokens to shingle")],
        "doc_id long, text string",
    ).createOrReplaceTempView("documents")
    sig = spark.sql(minhash_signature_sql("spark")).collect()
    # docs with < k=3 tokens have NO 3-shingles and drop out of the
    # signature relation — the point is the query completes instead of
    # throwing on them
    assert {r["doc_id"] for r in sig} == {3, 4}
    ver = spark.sql(dedup_verified_sql("spark", threshold=0.5)).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in ver} == {(3, 4)}


def test_content_id_not_null_on_missing_fields(spark, tmp_path):
    """Rows with a NULL column must still get DISTINCT deterministic ids —
    '||' propagates NULL and previously every such row got data_id=NULL
    (r3 review, reproduced live)."""
    from geostatssolvers_jl_spark.sources.delimited import (
        read_georef_delimited,
    )

    p = tmp_path / "d.tsv"
    p.write_text("1.0\t\t3.0\n2.0\t\t9.0\n5.0\t6.0\t7.0\n")
    df = read_georef_delimited(
        spark, str(p), "x double, y double, z double", ["x", "y"],
    )
    rows = df.collect()
    ids = [r["data_id"] for r in rows]
    assert all(i is not None for i in ids)
    assert len(set(ids)) == 3


def test_phrase_count_multiword(spark):
    """Multi-word needles survive the space-doubling transform (r3 advice:
    internal spaces in the text become double spaces, so an undoubled
    'new york' needle could never match)."""
    from geostatssolvers_jl_spark.webtext.textstats import phrase_count_expr

    df = spark.createDataFrame(
        [("new york is in new york state",),
         ("york new is not newyork",),
         ("new york new york new york",)],
        "text string",
    )
    e = phrase_count_expr("text", "new york")
    counts = [r[0] for r in df.selectExpr(f"{e} AS c").collect()]
    assert counts == [2, 0, 3]
    # single-word counting unchanged, including adjacent repeats
    e1 = phrase_count_expr("text", "new")
    assert [r[0] for r in df.selectExpr(f"{e1} AS c").collect()] == [2, 1, 3]


def test_choose_planes_rule():
    """planes ≈ log2(n / 64), clamped to [3, 24] — the retuning rule
    validated at n=100k in tools/ann_stress.py, now a planner decision
    instead of a stress-tool footnote."""
    from geostatssolvers_jl_spark.planner import choose_planes

    assert choose_planes(2_000) == 5          # the sf-scale tuned default
    assert choose_planes(100_000) == 11       # the stress-proven retune
    assert choose_planes(10_000_000) == 17
    assert choose_planes(0) == 3              # degenerate floor
    assert choose_planes(10**12) == 24        # probe-fanout ceiling


def test_ann_topk_auto_planes(spark):
    """The DataFrame wrapper auto-derives planes from the corpus count and
    returns the same result as the explicit-plane SQL path."""
    from geostatssolvers_jl_spark.planner import choose_planes
    from geostatssolvers_jl_spark.webtext.similarity import (
        ann_topk, ann_topk_lsh_sql,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    p = choose_planes(n)
    auto = ann_topk(spark, emb, k=3)
    emb.createOrReplaceTempView("_emb_explicit")
    explicit = spark.sql(
        ann_topk_lsh_sql("spark", "_emb_explicit", k=3, n_planes=p)
    )
    a = sorted(map(tuple, auto.collect()))
    b = sorted(map(tuple, explicit.collect()))
    assert a == b and len(a) > 0


def test_url_canonicalize_cases(spark):
    """Unit cases for the canonicalization operator itself."""
    from geostatssolvers_jl_spark.webtext.urls import canonicalize_url_expr

    cases = [
        ("HTTPS://WWW.Ex.COM/A/b/?utm_source=f&ref=k#frag",
         "https://www.ex.com/A/b?ref=k"),
        ("http://Host.io/path", "http://host.io/path"),
        ("http://Host.io/", "http://host.io/"),        # root slash kept
        ("http://HOST.io", "http://host.io"),
        ("https://h.co/p?utm_a=1&utm_b=2", "https://h.co/p"),
        ("https://h.co/CaseKept/Q?x=1&utm_z=9&y=2",
         "https://h.co/CaseKept/Q?x=1&y=2"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in
           df.selectExpr(f"{canonicalize_url_expr('spark')} AS c").collect()]
    assert got == [c for _, c in cases]


def test_split_assign_deterministic_and_complete(spark):
    from geostatssolvers_jl_spark.webtext.urls import split_assign_sql

    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    a = spark.sql(split_assign_sql("spark")).collect()
    b = spark.sql(split_assign_sql("spark")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # stable
    splits = {}
    for r in a:
        splits.setdefault(r["split"], 0)
        splits[r["split"]] += 1
        assert 0 <= r["bucket"] < 100
    assert set(splits) <= {"train", "val", "test"}
    assert splits["train"] > 0.9 * len(a)   # ~98%


def test_contamination_flags_benchmark_sources(spark):
    """Every benchmark-source document must flag itself (it contains the
    benchmark text by construction); non-source docs only flag on real
    shingle overlap."""
    from geostatssolvers_jl_spark.webtext.urls import contamination_sql

    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    rows = spark.sql(contamination_sql("spark")).collect()
    n_docs = spark.table("documents").count()
    # self-flag guarantee needs the doc's first-10-word head to yield ≥5
    # DISTINCT 3-gram shingles (≥7 words, non-degenerate head) — compute
    # the eligible set instead of assuming it, so regenerated corpora
    # with short/repetitive bench docs don't fail the test spuriously
    eligible = {
        r["doc_id"] for r in spark.sql(
            "SELECT doc_id, size(array_distinct(transform("
            "  sequence(1, greatest(size(slice(split(text,' '),1,10)) - 2, 0)),"
            "  i -> concat_ws(' ', slice(slice(split(text,' '),1,10), i, 3))"
            "))) AS nsh FROM documents WHERE doc_id % 97 = 0"
        ).collect() if r["nsh"] >= 5
    }
    assert eligible, "corpus has no eligible benchmark docs to test with"
    self_flags = {(r["doc_id"], r["bench_id"]) for r in rows
                  if r["doc_id"] == r["bench_id"]}
    assert {(b, b) for b in eligible} <= self_flags
    for r in rows:
        assert r["n_shared"] >= 5


def test_redact_pii_tokens(spark):
    """Email-shaped and long-digit tokens redact; ordinary tokens and
    short numbers survive."""
    from geostatssolvers_jl_spark.webtext.textstats import redact_pii_sql

    # doc_id 1: not ≡ 0 mod 11/13, so the builder appends NO synthetic
    # PII and the text is exactly what we control
    df = spark.createDataFrame(
        [(1, "mail a.b@x.co or call 5551234567 ref 123 ok")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("_pii_docs")
    sql = redact_pii_sql("spark", "_pii_docs")
    r = spark.sql(sql).collect()[0]
    assert r["n_redacted"] == 2
    # reconstruct the redacted text directly to check md5 agreement
    manual = spark.sql(
        "SELECT md5('mail <EMAIL> or call <PHONE> ref 123 ok') AS m"
    ).collect()[0]["m"]
    assert r["redacted_md5"] == manual


def test_redact_pii_ssn_ipv4_shapes(spark):
    """SSN-shaped and IPv4-shaped tokens redact; near-miss shapes
    (dates, versions, 4-digit octets, dotted ranges) survive.  Shape
    matching is translate-based (regex-free, dialect-portable)."""
    from geostatssolvers_jl_spark.webtext.textstats import redact_pii_sql

    text = (
        "ssn 078-05-1120 ip 192.168.0.1 date 2024-01-01 ver 1.2.3 "
        "quad 1.2.3.4.5 big 1234.5.6.7 edge .1.2.3 range 10..20.30.40 ok"
    )
    df = spark.createDataFrame(
        [(1, text)], "doc_id long, text string",
    )
    df.createOrReplaceTempView("_pii_docs2")
    r = spark.sql(redact_pii_sql("spark", "_pii_docs2")).collect()[0]
    assert r["n_redacted"] == 2  # only the SSN and the IPv4
    manual = spark.sql(
        "SELECT md5('ssn <SSN> ip <IP> date 2024-01-01 ver 1.2.3 "
        "quad 1.2.3.4.5 big 1234.5.6.7 edge .1.2.3 range 10..20.30.40 ok'"
        ") AS m"
    ).collect()[0]["m"]
    assert r["redacted_md5"] == manual


def test_redact_pii_injected_patterns_all_classes(spark):
    """The deterministic synthetic-PII injections (the gate's shared
    fixture arm) must each be caught by their class: pick doc_ids
    hitting each modulus and verify the per-doc count."""
    import duckdb as _dd

    from geostatssolvers_jl_spark.webtext.textstats import redact_pii_sql

    # 11 → email, 13 → phone, 17 → ssn, 19 → ip (and 0 hits all four)
    ids = [0, 11, 13, 17, 19, 23]
    df = spark.createDataFrame(
        [(i, "plain text only") for i in ids], "doc_id long, text string",
    )
    df.createOrReplaceTempView("_pii_docs3")
    got = {r["doc_id"]: r["n_redacted"]
           for r in spark.sql(redact_pii_sql("spark", "_pii_docs3")).collect()}
    assert got == {0: 4, 11: 1, 13: 1, 17: 1, 19: 1, 23: 0}
    # oracle twin agrees verbatim
    con = _dd.connect()
    con.execute(
        "CREATE VIEW _pii_docs3 AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, 'plain text only')" for i in ids)
        + ") _t(doc_id, text)"
    )
    duck = {int(r[0]): int(r[2]) for r in con.sql(
        redact_pii_sql("duckdb", "_pii_docs3")
    ).fetchall()}
    assert duck == got


def test_repetition_ratio_bounds(spark):
    from geostatssolvers_jl_spark.webtext.textstats import (
        repetition_ratio_sql,
    )

    df = spark.createDataFrame(
        [(0, "spam spam spam spam spam"),   # one 2-gram repeated 4x -> 1.0
         (1, "a b c d e f"),                 # all distinct -> 1/5
         (2, "solo")],                       # < k tokens: NULL ratio row
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("_rep_docs")
    rows = {r["doc_id"]: r for r in
            spark.sql(repetition_ratio_sql("spark", "_rep_docs")).collect()}
    assert len(rows) == 3                   # one row per document, always
    assert rows[0]["rep_ratio"] == 1.0 and rows[0]["n_grams"] == 4
    assert rows[1]["rep_ratio"] == 0.2 and rows[1]["n_grams"] == 5
    assert rows[2]["rep_ratio"] is None and rows[2]["n_grams"] == 0


def test_url_canonical_scalar_layered_parity(spark):
    """The composable scalar expr and the layered production SQL must
    agree on every synthesized url (two hand-maintained spellings — this
    is the test that keeps them from diverging)."""
    from geostatssolvers_jl_spark.webtext.urls import (
        canonicalize_url_expr, synthesize_url_expr, url_canonical_sql,
    )

    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    scalar = spark.sql(
        f"SELECT {canonicalize_url_expr('spark', 'u')} AS canon_url, "
        f"min(doc_id) AS keep_doc, count(*) AS n_dups FROM "
        f"(SELECT doc_id, {synthesize_url_expr()} AS u FROM documents) _u "
        f"GROUP BY 1"
    )
    layered = spark.sql(url_canonical_sql("spark"))
    assert sorted(map(tuple, scalar.collect())) == \
        sorted(map(tuple, layered.collect()))


def test_url_canonical_utm_escape(spark):
    """LIKE's `_` is a single-char wildcard: params named utma/utmz (no
    underscore) must SURVIVE canonicalization — only utm_* are tracking
    params (r4 review: the unescaped pattern stripped '?utma=1')."""
    from geostatssolvers_jl_spark.webtext.urls import canonicalize_url_expr

    df = spark.createDataFrame(
        [("https://h.co/p?utma=1&x=2",),
         ("https://h.co/p?utm_a=1&x=2",)],
        "url string",
    )
    got = [r[0] for r in
           df.selectExpr(f"{canonicalize_url_expr('spark')} AS c").collect()]
    assert got == ["https://h.co/p?utma=1&x=2", "https://h.co/p?x=2"]


def test_url_canonical_idempotent(spark):
    """canon(canon(u)) == canon(u) over randomized url shapes — the
    defining property of a normalization pass (a second crawl of an
    already-canonical url must land in the same dedup group)."""
    from hypothesis import given, settings, strategies as st

    from geostatssolvers_jl_spark.webtext.urls import canonicalize_url_expr

    host = st.sampled_from(["WWW.Ex.COM", "host.io", "A.B.ORG"])
    path = st.sampled_from(["", "/P/q", "/x", "/x/"])
    query = st.sampled_from(
        ["", "?utm_a=1", "?a=1&utm_b=2&c=3", "?utma=x", "?utm_a=1&utm_b=2"]
    )
    frag = st.sampled_from(["", "#f", "#utm_x"])

    collected = []

    @settings(max_examples=40, deadline=None)
    @given(host, path, query, frag)
    def gen(h, p, q, f):
        collected.append(f"https://{h}{p}{q}{f}")

    gen()
    df = spark.createDataFrame([(u,) for u in set(collected)], "url string")
    c1 = canonicalize_url_expr("spark", "url")
    once = df.selectExpr(f"{c1} AS url")
    twice = once.selectExpr(f"{c1} AS url")
    a = sorted(r[0] for r in once.collect())
    b = sorted(r[0] for r in twice.collect())
    assert a == b


def test_connected_components_known_graph(spark):
    """Chain 1-2-3 + pair (10,11) + triangle (20,21,22) with a redundant
    edge — labels are the component minima, isolated from each other."""
    from geostatssolvers_jl_spark.webtext.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    """A 12-node path needs multiple sweeps (diameter 11) and exercises
    the localCheckpoint lineage cut."""
    from geostatssolvers_jl_spark.webtext.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long",
    )
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


def _synth_multilang_corpus(n_per_lang: int = 150, seed: int = 3):
    """Deterministic corpus whose text ACTUALLY varies by language —
    distinct per-language character distributions with overlapping
    alphabets (the testdata corpus's lang label is text-independent, so
    classifier realism must be shown here)."""
    import numpy as np

    alphabets = {
        "aa": list("etaoinshr dlcmf"),
        "bb": list("eanitdrsu äöüßg"),
        "cc": list("eaionstrl éàèçp"),
        "dd": list("aeonslrdt ñíóúb"),
    }
    rng = np.random.default_rng(seed)
    rows = []
    doc_id = 0
    for lang, chars in alphabets.items():
        chars = [c for c in chars if c != " "]
        for _ in range(n_per_lang):
            words = []
            for _w in range(int(rng.integers(20, 40))):
                wl = int(rng.integers(3, 9))
                words.append("".join(
                    chars[i] for i in rng.integers(0, len(chars), wl)
                ))
            rows.append((doc_id, " ".join(words), lang))
            doc_id += 1
    return rows


def test_langid_model_accuracy(spark):
    """The trained trigram NB classifier (webtext/langmodel.py) must beat
    a stated held-out accuracy bound on a corpus with real per-language
    character signal — the realism evidence the exactness gate entry
    (`langid_model`) cannot provide, since the testdata lang label is
    text-independent.  Statistical-bound style mirrors the reference's
    learning test (test/learning/pointwise.jl:35-36)."""
    from geostatssolvers_jl_spark.webtext.langmodel import langid_model

    rows = _synth_multilang_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # deterministic 80/20 split on doc_id (stratified by construction:
    # ids are interleaved per lang in blocks, modulo split cuts evenly)
    train = df.filter("doc_id % 5 <> 0")
    test = df.filter("doc_id % 5 = 0")
    pred = langid_model(spark, train, test)
    joined = pred.join(df.select("doc_id", "lang"), "doc_id")
    n = joined.count()
    good = joined.filter("pred_lang = lang").count()
    assert n == 120
    acc = good / n
    assert acc >= 0.95, f"held-out accuracy {acc:.3f} < 0.95"


def test_langid_model_coverage_and_determinism(spark):
    """One output row per scored document — including sub-3-char docs
    (no trigrams: scored by prior, argmax tie-break 'smallest lang') —
    and identical output on a rerun."""
    from geostatssolvers_jl_spark.webtext.langmodel import langid_model

    df = spark.createDataFrame(
        [(0, "hello there friend", "en"), (1, "ab", "en"),
         (2, "", "de"), (3, "der die das und der", "de")],
        "doc_id long, text string, lang string",
    )
    out = langid_model(spark, df).collect()
    assert sorted(r["doc_id"] for r in out) == [0, 1, 2, 3]
    out2 = langid_model(spark, df).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # priors are equal (2 en, 2 de) → the no-trigram docs tie-break to
    # the lexicographically smallest language
    by = {r["doc_id"]: r["pred_lang"] for r in out}
    assert by[1] == "de" and by[2] == "de"


def test_minhash_sig_kernel_equals_sql(spark):
    """`minhash128_sig_kernel` must emit exactly `minhash128_sig_cte`'s
    rows — including sub-k-token docs and NULL/empty text (no row, like
    the SQL's empty explode), unicode shingles, and repeated shingles
    (the per-doc DISTINCT)."""
    from geostatssolvers_jl_spark.webtext.dedup import (
        minhash128_sig_cte, minhash128_sig_kernel,
    )

    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "a b"), (2, None), (3, ""),
            (4, "日本 語 の テキスト です 日本 語 の"),
            (5, "x y z x y z x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("_sigk_docs")
    want = sorted(map(tuple, spark.sql(
        minhash128_sig_cte("spark", "_sigk_docs")).collect()))
    got = sorted(map(tuple, minhash128_sig_kernel(spark, df).collect()))
    assert got == want and len(got) == 3


def test_langmodel_match_kernel_equals_inline_sql(spark):
    """The vectorized `_match` kernel (r7: `match_scores_kernel` inside
    `_run_with_local_model`) must emit exactly the inline SQL chain's
    rows — including multi-byte scripts (code-point trigrams), non-BMP
    emoji, sub-3-char and empty docs, and docs matching nothing.  Both
    full-entry outputs AND the raw `_match` relation are compared."""
    from geostatssolvers_jl_spark.webtext.langmodel import (
        _madj_collect_sql, langid_model, langid_model_sql, lm_quality,
        lm_quality_sql, match_scores_kernel, train_trigram_model,
    )

    rows = [
        (0, "hello there friendly neighbour", "en"),
        (1, "der die das und der die", "de"),
        (2, "日本語のテキストです日本語", "ja"),
        (3, "🎉🎊🎉🎊🎉 party 🎉🎊🎉", "en"),
        (4, "ab", "en"),
        (5, "", "de"),
        (6, "zzzqqqxxx", "de"),
        (7, "日本語 and english mixed こんにちは", "ja"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.createOrReplaceTempView("_mk_docs")
    for wrapper, sqlf in ((langid_model, langid_model_sql),
                          (lm_quality, lm_quality_sql)):
        got = sorted(map(tuple, wrapper(spark, df).collect()))
        want = sorted(map(tuple, spark.sql(
            sqlf("spark", "_mk_docs")).collect()))
        assert got == want and got
    # raw _match relation: kernel vs the SQL sub-chain over the same
    # engine-evaluated dlp table
    model = train_trigram_model(spark, df)
    model.createOrReplaceTempView("_mk_cnt")
    madj = spark.sql(_madj_collect_sql("_mk_cnt")).collect()
    langs = sorted({r.lang for r in madj})
    got = sorted(map(tuple, match_scores_kernel(
        spark, df, madj, langs).collect()))
    spark.createDataFrame(madj, "lang string, tg string, dlp long") \
        .createOrReplaceTempView("_mk_madj")
    from geostatssolvers_jl_spark.webtext.langmodel import trigram_select
    want = sorted(map(tuple, spark.sql(
        f"SELECT g.doc_id, a.lang, CAST(sum(a.dlp) AS BIGINT) AS msum "
        f"FROM ({trigram_select('spark', '_mk_docs', 'doc_id')}) g "
        f"JOIN _mk_madj a ON a.tg = g.tg "
        f"GROUP BY g.doc_id, a.lang").collect()))
    assert got == want and got


def test_langmodel_match_kernel_refuses_inexact_sum(spark):
    """msum is accumulated in float64, which sums integers exactly only
    below 2^53: a batch column whose |dlp| sum reaches it must raise
    instead of scoring a rounded msum."""
    from pyspark.sql import Row

    from geostatssolvers_jl_spark.webtext.langmodel import (
        match_scores_kernel,
    )

    df = spark.createDataFrame([(0, "abcabc")], "doc_id long, text string")
    madj = [Row(lang="en", tg="abc", dlp=2**52)]  # "abc" occurs twice
    with pytest.raises(Exception, match=r"2\^53"):
        match_scores_kernel(spark, df, madj, ["en"]).collect()


def test_langid_model_empty_training_corpus_raises(spark):
    """An all-sub-3-char training corpus cannot train a trigram model —
    the wrapper must refuse instead of silently emitting zero rows for
    every scored document (review finding r5)."""
    from geostatssolvers_jl_spark.webtext.langmodel import langid_model

    df = spark.createDataFrame(
        [(0, "ab", "en"), (1, "x", "de")], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="no trigrams"):
        langid_model(spark, df)


def test_subword_token_count_semantics(spark):
    """Class-run segmentation: letter runs, digit runs, and individual
    punctuation marks each count as one subword; spaces separate; empty
    and all-space docs count 0 (coverage contract keeps their rows)."""
    import duckdb as _dd

    from geostatssolvers_jl_spark.webtext.textstats import (
        subword_token_count_sql,
    )

    cases = [
        (0, "abc123 def-ghi", 5),   # abc|123|def|-|ghi
        (1, "", 0),
        (2, "a", 1),
        (3, "   ", 0),
        (4, "hello, world!!", 5),   # hello|,|world|!|!
        (5, "x9y", 3),
        (6, "Mixed CASE runs", 3),  # case folding joins letter runs
        (7, "a.b.c", 5),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id long, text string"
    )
    df.createOrReplaceTempView("_sw_docs")
    got = {r["doc_id"]: r["n_subwords"] for r in spark.sql(
        subword_token_count_sql("spark", "_sw_docs")
    ).collect()}
    assert got == {i: n for i, _, n in cases}
    con = _dd.connect()
    con.execute(
        "CREATE VIEW _sw_docs AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t, _ in cases)
        + ") _t(doc_id, text)"
    )
    duck = {int(r[0]): int(r[1]) for r in con.sql(
        subword_token_count_sql("duckdb", "_sw_docs")
    ).fetchall()}
    assert duck == got


def test_langid_model_vocab_bound_enforced(spark):
    """The driver-collected model must be ≤ |langs| × vocab_topk rows on
    ANY corpus (VERDICT r5 'what's wrong #2': the unpruned collect was
    the engine's last unenforced driver-sized artifact).  Pinned three
    ways: (a) the pruned count relation honours the cap and is flat as
    the corpus grows, (b) Spark and DuckDB prune IDENTICALLY (same
    top-K window, same tie-break), (c) the classifier still clears the
    held-out accuracy bound under the default cap (asserted by
    test_langid_model_accuracy, which runs the capped default)."""
    import duckdb

    from geostatssolvers_jl_spark.webtext.langmodel import (
        langid_model, pruned_count_sql,
    )

    rows = _synth_multilang_corpus()
    small = spark.createDataFrame(
        rows, "doc_id long, text string, lang string")
    # 4x the corpus (shifted ids): vocab per language grows past the cap
    big = small
    for i in (1, 2, 3):
        big = big.union(small.selectExpr(
            f"doc_id + {1000 * i} AS doc_id", "text", "lang"))
    k = 40
    nlangs = small.select("lang").distinct().count()
    small.createOrReplaceTempView("_vb_small")
    big.createOrReplaceTempView("_vb_big")
    try:
        n_small = spark.sql(
            pruned_count_sql("spark", "_vb_small", k)).count()
        n_big = spark.sql(pruned_count_sql("spark", "_vb_big", k)).count()
        uncapped = spark.sql(
            pruned_count_sql("spark", "_vb_small", None)).count()
        assert uncapped > nlangs * k, "corpus too small to exercise cap"
        assert n_small <= nlangs * k
        assert n_big == n_small, "model size must be flat in corpus size"

        # cross-engine pruning parity at a cap that bites
        got = sorted(map(tuple, spark.sql(
            pruned_count_sql("spark", "_vb_small", k)).collect()))
        con = duckdb.connect()
        pdf = small.toPandas()
        con.register("_vb_small", pdf)
        want = sorted(map(tuple, con.execute(
            pruned_count_sql("duckdb", "_vb_small", k)).fetchall()))
        assert got == want
    finally:
        spark.catalog.dropTempView("_vb_small")
        spark.catalog.dropTempView("_vb_big")

    # end-to-end under the biting cap: coverage contract intact
    out = langid_model(spark, small, vocab_topk=k)
    assert out.count() == small.count()


def _codec_test_img(rng, h, w):
    import numpy as np
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_stdlib_codec_roundtrips_exact():
    """Every stdlib-decodable format must round-trip BIT-EXACTLY:
    PPM, bottom-up padded BMP (odd widths exercise the 4-byte row
    padding), and PNG whose encoder cycles row filters 0-4 so all five
    unfilter branches run (VERDICT r5 item 3 — one real codec)."""
    import numpy as np

    from geostatssolvers_jl_spark.webtext.codecs import (
        StdlibCodec, decode_png, encode_bmp, encode_png, encode_ppm,
    )

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (5, 3), (7, 13), (16, 16), (6, 31)]:
        img = _codec_test_img(rng, h, w)
        for enc in (encode_ppm, encode_bmp, encode_png):
            got = StdlibCodec.decode(enc(img))
            assert got.shape == (h, w, 3), enc.__name__
            assert np.array_equal(got, img), (enc.__name__, h, w)
    # gray (color type 0): decoded as replicated channels
    img = _codec_test_img(rng, 9, 4)
    gray = decode_png(encode_png(img[:, :, 0], color_type=0))
    assert np.array_equal(gray, np.repeat(img[:, :, :1], 3, axis=2))
    # RGBA (color type 6): alpha dropped
    rgba = decode_png(encode_png(img, color_type=6))
    assert np.array_equal(rgba, img)


def test_stdlib_codec_pnm_comments_and_gray():
    import numpy as np

    from geostatssolvers_jl_spark.webtext.codecs import StdlibCodec

    raw = np.arange(6, dtype=np.uint8).reshape(2, 3)
    payload = b"P5\n# a comment\n3 2\n# another\n255\n" + raw.tobytes()
    got = StdlibCodec.decode(payload)
    assert np.array_equal(got, np.repeat(raw[:, :, None], 3, axis=2))


def test_stdlib_codec_rejects_compressed_codecs():
    import pytest as _pt

    from geostatssolvers_jl_spark.webtext.codecs import StdlibCodec
    from geostatssolvers_jl_spark.webtext.multimodal import (
        RealCodecUnavailable,
    )

    with _pt.raises(RealCodecUnavailable, match="magic ffd8"):
        StdlibCodec.decode(b"\xff\xd8\xff\xe0JFIF-ish")
    with _pt.raises(RealCodecUnavailable, match="ffmpeg"):
        StdlibCodec.frame_sample(b"anything", 3)


def test_decode_images_real_end_to_end(spark):
    """decode_images_real runs the REAL stdlib codec through the full
    mapInPandas plumbing: generate deterministic payloads executor-side
    (format rotating ppm/bmp/png by id), decode, and check width/height
    and the thumbnail checksum of one known image value-exactly."""
    import hashlib

    import numpy as np
    import pandas as pd

    from geostatssolvers_jl_spark.webtext.codecs import (
        FakeCodec, encode_bmp, encode_png, encode_ppm,
    )
    from geostatssolvers_jl_spark.webtext.multimodal import (
        decode_images_real,
    )

    def _img(i):
        x = np.arange(4 + i % 9)
        y = np.arange(4 + i % 7)
        c = np.arange(3)
        return ((7 * i + 3 * x[None, :, None] + 5 * y[:, None, None]
                 + 11 * c[None, None, :]) % 256).astype(np.uint8)

    encs = [encode_ppm, encode_bmp, encode_png]

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame({
                "url": [f"img{i}" for i in ids],
                "payload": [encs[i % 3](_img(i)) for i in ids],
            })

    df = spark.range(30).mapInPandas(
        gen, schema="url string, payload binary")
    out = decode_images_real(
        df, binary_col="payload", id_col="url").toPandas()
    assert len(out) == 30
    by = out.set_index("url")
    for i in range(30):
        assert by.loc[f"img{i}", "width"] == 4 + i % 9
        assert by.loc[f"img{i}", "height"] == 4 + i % 7
    want = hashlib.md5(
        FakeCodec.resize(_img(5), (4, 4)).tobytes()).hexdigest()
    assert by.loc["img5", "thumb_md5"] == want


def test_stdlib_codec_pnm_crlf_header():
    """Review finding (r6): a Windows-authored PPM terminating the
    header with CRLF used to shift every pixel by one byte silently —
    the CRLF must count as ONE header terminator."""
    import numpy as np

    from geostatssolvers_jl_spark.webtext.codecs import decode_pnm

    raw = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    payload = b"P6\r\n2 2\r\n255\r\n" + raw.tobytes()
    assert np.array_equal(decode_pnm(payload), raw)


def test_encode_png_gray_input_under_rgb_type():
    """Review finding (r6): encode_png((h, w) gray) with the default
    color_type=2 crashed with an opaque reshape error — gray input now
    replicates channels."""
    import numpy as np

    from geostatssolvers_jl_spark.webtext.codecs import (
        decode_png, encode_png,
    )

    g = np.arange(20, dtype=np.uint8).reshape(4, 5)
    out = decode_png(encode_png(g))
    assert np.array_equal(out, np.repeat(g[:, :, None], 3, axis=2))
    out6 = decode_png(encode_png(g, color_type=6))
    assert np.array_equal(out6, np.repeat(g[:, :, None], 3, axis=2))


def test_stdlib_codec_png_palette_roundtrip():
    """Indexed (color type 3) PNG — the common web-PNG variant: encoder
    builds the PLTE from the image's distinct colors, decoder maps
    indices back; round-trip bit-exact, >256 colors rejected, missing
    PLTE fails loudly."""
    import numpy as np
    import pytest as _pt

    from geostatssolvers_jl_spark.webtext.codecs import (
        StdlibCodec, decode_png, encode_png,
    )

    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, (40, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 40, (9, 13))]
    assert np.array_equal(StdlibCodec.decode(encode_png(img, 3)), img)
    # filter cycling applies to index bytes too (h >= 5 covers all 5)
    img2 = pal[rng.integers(0, 40, (7, 3))]
    assert np.array_equal(decode_png(encode_png(img2, 3)), img2)
    many = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    with _pt.raises(ValueError, match="256 distinct"):
        encode_png(many, color_type=3)
    # strip the PLTE chunk -> loud failure
    payload = bytearray(encode_png(img, 3))
    i = payload.find(b"PLTE") - 4
    ln = int.from_bytes(payload[i:i + 4], "big")
    del payload[i:i + 12 + ln]
    with _pt.raises(ValueError, match="PLTE"):
        decode_png(bytes(payload))


def test_ann_topk_ivf_recall_vs_brute(spark):
    """Both IVF tiers must recover brute-force cosine top-1 for a solid
    majority of queries: the pivot-SQL form (gate-twinned) and the
    k-means wrapper (production quantizer, planner-sized)."""
    from geostatssolvers_jl_spark.webtext.similarity import (
        ann_topk_ivf, ann_topk_ivf_sql, cosine_topk_spark,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    emb.createOrReplaceTempView("embeddings")
    spark.sql(
        "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e "
        "FROM embeddings"
    ).createOrReplaceTempView("emb_ivf_t")
    brute = {
        r["qid"]: r["nid"]
        for r in spark.sql(
            cosine_topk_spark("emb_ivf_t", k=1, query_pred="q.vec_id < 100")
        ).collect()
    }
    # explicit params: the synthetic embeddings are near-UNIFORM (the
    # worst case for IVF — real text embeddings cluster), so the test
    # pins the measured operating points (pivot 80/100, kmeans 83/100
    # top-1 recall at these settings) rather than the planner defaults,
    # which are sized for clustered corpora
    pivot = {
        r["qid"]: r["nid"]
        for r in spark.sql(ann_topk_ivf_sql(
            "spark", k=1, nprobe=6, pivot_mod=51)).collect()
        if r["qid"] < 100
    }
    hits = sum(1 for q, n in brute.items() if pivot.get(q) == n)
    assert hits >= 0.7 * len(brute), f"pivot-IVF recall {hits}/{len(brute)}"

    km = {
        r["qid"]: r["nid"]
        for r in ann_topk_ivf(spark, emb, k=1, n_centroids=16,
                              nprobe=6).collect()
        if r["qid"] < 100
    }
    hits_km = sum(1 for q, n in brute.items() if km.get(q) == n)
    assert hits_km >= 0.7 * len(brute), \
        f"kmeans-IVF recall {hits_km}/{len(brute)}"
    # k-means quantizer beats random pivots at comparable probe
    # fraction (measured 83 vs 65 at ~6/16 cells); determinism:
    km2 = {
        r["qid"]: r["nid"]
        for r in ann_topk_ivf(spark, emb, k=1, n_centroids=16,
                              nprobe=6).collect()
        if r["qid"] < 100
    }
    assert km == km2


def test_stdlib_codec_wav_roundtrip_and_rejection():
    """RIFF/WAVE PCM16: mono + stereo round-trip bit-exact; chunk walk
    skips unknown (odd-sized, word-aligned) chunks before data; float
    WAV rejected loudly."""
    import struct

    import numpy as np
    import pytest as _pt

    from geostatssolvers_jl_spark.webtext.codecs import (
        decode_wav, encode_wav,
    )
    from geostatssolvers_jl_spark.webtext.multimodal import (
        RealCodecUnavailable,
    )

    rng = np.random.default_rng(1)
    mono = rng.integers(-32768, 32767, 777, dtype=np.int16)
    out, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and np.array_equal(out[:, 0], mono)
    stereo = rng.integers(-32768, 32767, (500, 2), dtype=np.int16)
    out2, _ = decode_wav(encode_wav(stereo))
    assert np.array_equal(out2, stereo)
    # inject an odd-sized LIST chunk between fmt and data
    payload = bytearray(encode_wav(mono, 8000))
    di = payload.find(b"data")
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
    patched = bytes(payload[:di]) + junk + bytes(payload[di:])
    patched = (patched[:4]
               + struct.pack("<I", len(patched) - 8) + patched[8:])
    out3, _ = decode_wav(patched)
    assert np.array_equal(out3[:, 0], mono)
    # float WAV (format 3) rejected
    bad = bytearray(encode_wav(mono))
    fi = bad.find(b"fmt ") + 8
    bad[fi:fi + 2] = struct.pack("<H", 3)
    with _pt.raises(RealCodecUnavailable, match="PCM16"):
        decode_wav(bytes(bad))


def test_decode_audio_real_end_to_end(spark):
    """decode_audio_real: WAV payloads generated executor-side decode
    through the mapInPandas plumbing with exact sample counts/rates."""
    import pandas as pd

    from geostatssolvers_jl_spark.webtext.codecs import encode_wav
    from geostatssolvers_jl_spark.webtext.multimodal import (
        decode_audio_real,
    )

    def gen(batches):
        import numpy as np

        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame({
                "url": [f"a{i}" for i in ids],
                "payload": [
                    encode_wav(
                        np.arange(100 + 10 * i, dtype=np.int16) - 50,
                        8000)
                    for i in ids
                ],
            })

    df = spark.range(12).mapInPandas(
        gen, schema="url string, payload binary")
    out = decode_audio_real(
        df, binary_col="payload", id_col="url").toPandas()
    assert len(out) == 12
    by = out.set_index("url")
    for i in range(12):
        assert by.loc[f"a{i}", "n_samples"] == 100 + 10 * i
        assert by.loc[f"a{i}", "sample_rate"] == 8000
    assert abs(by.loc["a0", "duration_s"] - 100 / 8000) < 1e-12


def test_stdlib_codec_y4m_roundtrip_and_sampling():
    """Y4M video tier: plane-exact round-trip, evenly-spaced frame
    sampling through StdlibCodec.frame_sample (gray RGB from luma),
    non-420 chroma rejected."""
    import numpy as np
    import pytest as _pt

    from geostatssolvers_jl_spark.webtext.codecs import (
        StdlibCodec, decode_y4m, encode_y4m,
    )
    from geostatssolvers_jl_spark.webtext.multimodal import (
        RealCodecUnavailable,
    )

    rng = np.random.default_rng(2)
    frames = [
        (rng.integers(0, 256, (6, 8), dtype=np.uint8),
         rng.integers(0, 256, (3, 4), dtype=np.uint8),
         rng.integers(0, 256, (3, 4), dtype=np.uint8))
        for _ in range(7)
    ]
    clip = encode_y4m(frames, 30)
    got, w, h, fps = decode_y4m(clip)
    assert (w, h, fps) == (8, 6, 30) and len(got) == 7
    for a, b in zip(got, frames):
        for i in range(3):
            assert np.array_equal(a[i], b[i])
    # sample 3 of 7: linspace(0, 6, 3) -> frames 0, 3, 6, luma as gray
    sampled = StdlibCodec.frame_sample(clip, 3)
    assert len(sampled) == 3
    for s, fi in zip(sampled, (0, 3, 6)):
        assert s.shape == (6, 8, 3)
        assert np.array_equal(s[:, :, 0], frames[fi][0])
        assert np.array_equal(s[:, :, 1], frames[fi][0])
    bad = clip.replace(b"C420", b"C444", 1)
    with _pt.raises(RealCodecUnavailable, match="C444"):
        decode_y4m(bad)


def test_codec_roundtrip_property():
    """Property test (hypothesis): ANY uint8 image round-trips
    bit-exactly through every stdlib image format, and any int16 PCM
    through WAV — shapes and content drawn adversarially, including
    1-pixel images and BMP-padding-hostile odd widths."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    import numpy as np

    from geostatssolvers_jl_spark.webtext.codecs import (
        StdlibCodec, decode_wav, encode_bmp, encode_png, encode_ppm,
        encode_wav,
    )

    shapes = st.tuples(st.integers(1, 12), st.integers(1, 12))

    @settings(max_examples=40, deadline=None)
    @given(
        shape=shapes,
        seed=st.integers(0, 2**31 - 1),
    )
    def img_prop(shape, seed):
        h, w = shape
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for enc in (encode_ppm, encode_bmp, encode_png,
                    lambda im: encode_png(im, 6)):
            assert np.array_equal(StdlibCodec.decode(enc(img)), img)

    @settings(max_examples=30, deadline=None)
    @given(pcm=arrays(np.int16, st.integers(1, 400)),
           ch=st.integers(1, 3), rate=st.sampled_from([8000, 16000]))
    def wav_prop(pcm, ch, rate):
        multi = np.stack([pcm] * ch, axis=1) if ch > 1 else pcm
        out, r = decode_wav(encode_wav(multi, rate))
        assert r == rate and out.shape == (len(pcm), ch)
        assert np.array_equal(out[:, 0], pcm)

    img_prop()
    wav_prop()


def test_codec_review_fixes_r6():
    """Second review pass (r6) regressions: gray input under indexed
    PNG; truncated-WAV fail-loud; non-RIFF audio raises the documented
    RealCodecUnavailable; frame-less Y4M raises a diagnosable error."""
    import struct

    import numpy as np
    import pytest as _pt

    from geostatssolvers_jl_spark.webtext.codecs import (
        StdlibCodec, decode_png, decode_wav, encode_png, encode_wav,
    )
    from geostatssolvers_jl_spark.webtext.multimodal import (
        RealCodecUnavailable,
    )

    g = np.arange(30, dtype=np.uint8).reshape(5, 6)
    out = decode_png(encode_png(g, color_type=3))
    assert np.array_equal(out, np.repeat(g[:, :, None], 3, axis=2))

    wav = bytearray(encode_wav(np.arange(100, dtype=np.int16)))
    with _pt.raises(ValueError, match="declares"):
        decode_wav(bytes(wav[: len(wav) - 50]))
    with _pt.raises(RealCodecUnavailable, match="ffmpeg"):
        decode_wav(b"\xff\xfbmp3-frame-sync-ish")
    with _pt.raises(ValueError, match="no frames"):
        StdlibCodec.frame_sample(
            b"YUV4MPEG2 W8 H6 F25:1 Ip A1:1 C420\n", 3)
    assert struct is not None


def test_ann_topk_ivf_nprobe_follows_effective_cells(spark):
    """Review finding (r6): with only n_centroids supplied, nprobe used
    to default from the PLANNER's cell count — probing every cell
    (silent brute force).  It must derive from the effective cell count
    (n_centroids // 8, clamped); sparse/aligned vec_id spaces must
    still keep the driver sample bounded (hash-mod sampling)."""
    from geostatssolvers_jl_spark.webtext.similarity import ann_topk_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    only_cells = sorted(
        map(tuple, ann_topk_ivf(spark, emb, k=1, n_centroids=16).collect())
    )
    explicit = sorted(
        map(tuple,
            ann_topk_ivf(spark, emb, k=1, n_centroids=16,
                         nprobe=2).collect())
    )
    assert only_cells == explicit
    # sparse id space (all ids multiples of 1000) with a tiny cap: the
    # old vec_id % step filter would select EVERY row; the hash-mod
    # sample must still produce a working quantizer
    sparse = emb.selectExpr("vec_id * 1000 AS vec_id", "embedding")
    out = ann_topk_ivf(spark, sparse, k=1, n_centroids=8, nprobe=3,
                       sample_cap=20)
    assert out.count() > 0


def _bm25_expected(corpus, terms, k1=1.2, b=0.75):
    """Hand-computed BM25 (Lucene idf form) with the entry's micro
    quantization — per-(doc, term) score rounded to integer micro-units
    BEFORE the per-doc sum, exactly as `ranking.bm25_rank_sql` does."""
    import math

    n = float(len(corpus))
    dls = {d: float(t.count(" ") + 1) for d, t in corpus}
    avgdl = sum(dls.values()) / n
    tf = {}
    for d, t in corpus:
        for w in t.split(" "):
            if w in terms:
                tf[(d, w)] = tf.get((d, w), 0) + 1
    df = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    out = {}
    for (d, w), f in tf.items():
        idf = math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
        sat = (f * (k1 + 1.0)) / (f + k1 * (1.0 - b + b * dls[d] / avgdl))
        out[d] = out.get(d, 0) + int(round(idf * sat * 1e6))
    return out


def test_bm25_rank_hand_computed(spark):
    """Exact value check against an independent Python computation of
    the Okapi/Lucene BM25 formula on a 6-doc corpus (within 1 micro-unit
    per matched term for round-vs-banker's halfway divergence)."""
    from geostatssolvers_jl_spark.webtext.ranking import bm25_rank

    corpus = [
        (0, "spark join spark spark"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "join the spark cluster for a distributed join"),
        (3, "rare pearl hidden here"),
        (4, "pearl"),
        (5, "nothing relevant at all"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    terms = ("spark", "join", "pearl")
    got = {r["doc_id"]: r["score_micro"]
           for r in bm25_rank(spark, df, terms).collect()}
    exp = _bm25_expected(corpus, set(terms))
    assert set(got) == set(exp)          # doc 1 and 5 match nothing
    for d in exp:
        assert abs(got[d] - exp[d]) <= len(terms), (d, got[d], exp[d])


def test_bm25_rank_semantics(spark):
    """Rank order / idf behavior: a rare term outscores repeats of a
    ubiquitous one (idf dominance); rank is dense 1..n with doc_id
    tie-break; topk truncates; n_terms counts distinct matched terms."""
    from geostatssolvers_jl_spark.webtext.ranking import bm25_rank

    rows = [(i, "common filler words here") for i in range(20)]
    rows += [(100, "common needle"), (101, "common common common common")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_rank(spark, df, ("common", "needle"), topk=5).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    top = out[0]
    assert top["doc_id"] == 100 and top["n_terms"] == 2
    # every other doc matched only 'common'
    assert all(r["n_terms"] == 1 for r in out[1:])
    # scores strictly ordered (desc) with doc_id tiebreak
    pairs = [(-r["score_micro"], r["doc_id"]) for r in out]
    assert pairs == sorted(pairs)


def test_bm25_rank_validation():
    from geostatssolvers_jl_spark.webtext.ranking import bm25_rank_sql

    with pytest.raises(ValueError, match="at least one"):
        bm25_rank_sql("spark", ())
    with pytest.raises(ValueError, match="single unquoted"):
        bm25_rank_sql("spark", ("ok", "two words"))
    with pytest.raises(ValueError, match="single unquoted"):
        bm25_rank_sql("spark", ("o'quote",))


def test_lm_quality_separates_planted_gibberish(spark):
    """The perplexity-tier quality filter must flag every Atbash-ciphered
    document and no fluent one on the gate-shaped corpus
    (sf0.001 documents — deterministic driver data, the same fluent
    register the entry scores), with ≥1.2e6 micro per-trigram margin on
    both sides of the default threshold.  (A random-word synthetic
    corpus is the WRONG testbed here: its clean text already sits near
    the model's entropy ceiling — measured clean −8.0e6 vs ciphered
    −8.8e6 — so only genuinely fluent text exercises the threshold.)"""
    import pyspark.sql.functions as F

    from geostatssolvers_jl_spark.webtext.langmodel import (
        DEFAULT_FLUENCY_MICRO, lm_quality,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    az = "abcdefghijklmnopqrstuvwxyz"
    sdf = docs.select("doc_id", "text").unionAll(
        docs.filter("doc_id % 7 = 0").select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.translate("text", az, az[::-1]).alias("text"),
        )
    )
    out = lm_quality(spark, docs, sdf).collect()
    assert len(out) == sdf.count()
    margin = 1_200_000
    for r in out:
        if r["ntg"] == 0:
            continue
        per_tg = r["fluency_micro"] / r["ntg"]
        if r["doc_id"] >= 1_000_000:
            assert r["low_quality"] == 1, r
            assert per_tg < DEFAULT_FLUENCY_MICRO - margin, r
        else:
            assert r["low_quality"] == 0, r
            assert per_tg > DEFAULT_FLUENCY_MICRO + margin, r


def test_lm_quality_no_trigram_doc_flags_low(spark):
    """Coverage contract: sub-3-char docs keep their row and flag
    low_quality=1 (no evidence of fluency), ntg=0."""
    from geostatssolvers_jl_spark.webtext.langmodel import lm_quality

    train = spark.createDataFrame(
        [(0, "hello there friend how are you", "en"),
         (1, "der die das und der oder", "de")],
        "doc_id long, text string, lang string")
    score = spark.createDataFrame(
        [(7, "ab"), (8, ""), (9, "hello there friend")],
        "doc_id long, text string")
    by = {r["doc_id"]: r for r in lm_quality(spark, train, score).collect()}
    assert set(by) == {7, 8, 9}
    assert by[7]["low_quality"] == 1 and by[7]["ntg"] == 0
    assert by[8]["low_quality"] == 1
    assert by[9]["low_quality"] == 0


def test_trained_model_reuse_identical(spark):
    """Train-once/score-many: passing `train_trigram_model`'s artifact
    via ``model=`` must produce byte-identical output to per-call
    training, for both scoring tails."""
    from geostatssolvers_jl_spark.webtext.langmodel import (
        langid_model, lm_quality, train_trigram_model,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = train_trigram_model(spark, docs)
    assert model.count() > 0
    for fn in (langid_model, lm_quality):
        a = sorted(map(tuple, fn(spark, docs).collect()))
        b = sorted(map(tuple, fn(spark, docs, model=model).collect()))
        assert a == b, fn.__name__


def test_curation_funnel_consistency(spark):
    """Funnel invariants over real corpus data: raw ≥ unique ≥ curated,
    curated = train+val+test, and the per-(lang, split) report sums to
    the funnel's curated counts exactly."""
    from geostatssolvers_jl_spark.webtext.curation import (
        curation_funnel_sql, curation_report_sql,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("cur_docs")
    try:
        f = spark.sql(curation_funnel_sql("spark", "cur_docs")).collect()[0]
        assert f["n_raw"] >= f["n_unique"] >= f["n_curated"]
        assert f["n_curated"] == f["n_train"] + f["n_val"] + f["n_test"]
        rep = spark.sql(curation_report_sql("spark", "cur_docs")).collect()
        assert sum(r["n_docs"] for r in rep) == f["n_curated"]
        assert sum(r["total_tokens"] for r in rep) == f["curated_tokens"]
    finally:
        spark.catalog.dropTempView("cur_docs")


def test_curation_dedup_drops_exact_copies(spark):
    """Planted exact duplicates must collapse to one survivor (and the
    quality gate must keep the long fluent text used here)."""
    from geostatssolvers_jl_spark.webtext.curation import (
        curation_funnel_sql,
    )

    body = ("the quick brown fox jumps over the lazy dog and runs on " * 10)
    rows = [(i, body) for i in range(6)] + [(10, body + "tail marker")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("cur_dups")
    try:
        f = spark.sql(curation_funnel_sql("spark", "cur_dups")).collect()[0]
        assert f["n_raw"] == 7
        assert f["n_unique"] == 2   # one survivor per distinct text
        assert f["n_curated"] == 2  # both texts pass the quality gate
    finally:
        spark.catalog.dropTempView("cur_dups")


def test_curation_sums_are_bigint_on_both_engines(spark):
    """Every sum in the curation report and funnel is BIGINT on DuckDB as
    on Spark (DuckDB types an integer sum as HUGEINT unless cast), so the
    oracle's result types match the entry's, not only its values."""
    import duckdb
    from pyspark.sql.types import LongType

    from geostatssolvers_jl_spark.webtext.curation import (
        curation_funnel_sql, curation_report_sql,
    )

    path = "/root/testdata/sf0.01/documents.parquet"
    sums = {curation_report_sql: ("total_tokens", "total_bytes"),
            curation_funnel_sql: ("n_unique", "n_curated", "n_train",
                                  "n_val", "n_test", "curated_tokens")}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW cur_types AS SELECT * FROM '{path}'")
    spark.read.parquet(path).createOrReplaceTempView("cur_types")
    try:
        for fn, cols in sums.items():
            duck = {r[0]: r[1] for r in con.execute(
                f"DESCRIBE {fn('duck', 'cur_types')}").fetchall()}
            schema = spark.sql(fn("spark", "cur_types")).schema
            for c in cols:
                assert duck[c] == "BIGINT", (fn.__name__, c, duck[c])
                assert isinstance(schema[c].dataType, LongType), (
                    fn.__name__, c)
    finally:
        con.close()
        spark.catalog.dropTempView("cur_types")


def test_stratified_sample_exact_k_and_stability(spark):
    """Exactly min(k, stratum size) rows per stratum; adding documents
    to ANOTHER stratum never changes a stratum's selection (the
    growth-stability the md5 order buys)."""
    from geostatssolvers_jl_spark.webtext.curation import (
        stratified_sample_sql,
    )

    rows = [(i, f"doc {i}", "en" if i % 2 == 0 else "de")
            for i in range(60)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("strat_docs")
    grown = rows + [(1000 + i, f"new {i}", "fr") for i in range(40)]
    spark.createDataFrame(grown, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("strat_docs_grown")
    try:
        base = spark.sql(
            stratified_sample_sql("spark", "strat_docs", k=10)).collect()
        per = {}
        for r in base:
            per.setdefault(r["lang"], set()).add(r["doc_id"])
        assert {k: len(v) for k, v in per.items()} == {"en": 10, "de": 10}
        g = spark.sql(
            stratified_sample_sql("spark", "strat_docs_grown", k=10)
        ).collect()
        per_g = {}
        for r in g:
            per_g.setdefault(r["lang"], set()).add(r["doc_id"])
        assert per_g["en"] == per["en"] and per_g["de"] == per["de"]
        assert len(per_g["fr"]) == 10
    finally:
        spark.catalog.dropTempView("strat_docs")
        spark.catalog.dropTempView("strat_docs_grown")


def test_quantile_thresholds_match_numpy(spark):
    """The nearest-rank quantile (v at ceil(p*n)) must equal numpy's
    'inverted_cdf' method per group, including the n=1 and all-equal
    edge strata."""
    import numpy as np
    from geostatssolvers_jl_spark.webtext.curation import (
        quantile_thresholds_sql,
    )

    rng = np.random.default_rng(7)
    rows = [(i, "x" * int(v), g) for i, (v, g) in enumerate(
        [(rng.integers(1, 500), "a") for _ in range(137)]
        + [(rng.integers(1, 500), "b") for _ in range(23)]
        + [(42, "solo")] + [(7, "flat")] * 9)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("quant_docs")
    try:
        got = {r["lang"]: r for r in spark.sql(
            quantile_thresholds_sql("spark", "quant_docs")).collect()}
        vals = {}
        for _, t, g in rows:
            vals.setdefault(g, []).append(len(t))
        for g, vs in vals.items():
            for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
                want = int(np.quantile(np.array(vs), p,
                                       method="inverted_cdf"))
                assert got[g][col] == want, (g, col, got[g][col], want)
            assert got[g]["n"] == len(vs)
    finally:
        spark.catalog.dropTempView("quant_docs")


def test_tfidf_topterms_semantics(spark):
    """Keyword extraction: a document's distinctive term outranks a
    corpus-ubiquitous one even at lower tf; min_len drops short tokens;
    per-doc rank is dense 1..k with term tie-break."""
    from geostatssolvers_jl_spark.webtext.ranking import tfidf_topterms

    rows = [(i, "common words appear everywhere always")
            for i in range(20)]
    rows.append((100, "common common common zebra a x"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_topterms(spark, df, topk=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    d = sorted(by_doc[100], key=lambda r: r["rank"])
    # zebra (tf=1, df=1: idf = ln(22/2)+1 ≈ 3.40) outscores common
    # (tf=3, df=21: idf = 1.0, score 3.0): idf dominance
    assert d[0]["term"] == "zebra" and d[1]["term"] == "common"
    # min_len=2 dropped the single-char tokens
    assert all(len(r["term"]) >= 2 for r in out)
    # doc 100 has only two qualifying terms — rank stays dense
    assert [r["rank"] for r in d] == [1, 2]
    # filler docs: all 5 distinct terms qualify, topk truncates to 3
    filler = sorted(by_doc[0], key=lambda r: r["rank"])
    assert len(filler) == 3
    scores = [r["score_micro"] for r in filler]
    assert scores == sorted(scores, reverse=True)


def test_tfidf_topterms_hand_computed(spark):
    """Exact micro-unit check of the smooth-idf formula on a 3-doc
    corpus (1-unit tolerance for round-vs-banker's halfway)."""
    import math

    from geostatssolvers_jl_spark.webtext.ranking import tfidf_topterms

    corpus = [(0, "aa aa bb"), (1, "bb cc"), (2, "cc cc cc")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {(r["doc_id"], r["term"]): r["score_micro"]
           for r in tfidf_topterms(spark, df, topk=5).collect()}
    dfreq = {"aa": 1, "bb": 2, "cc": 2}
    tf = {(0, "aa"): 2, (0, "bb"): 1, (1, "bb"): 1, (1, "cc"): 1,
          (2, "cc"): 3}
    for key, t in tf.items():
        idf = math.log(4.0 / (dfreq[key[1]] + 1.0)) + 1.0
        exp = round(idf * t * 1e6)
        assert abs(out[key] - exp) <= 1, (key, out[key], exp)
    assert set(out) == set(tf)


def test_heavy_hitters_equals_brute(spark):
    """Sketch-prune + recount equals the brute GROUP BY + HAVING answer
    across thresholds (the gate twin, run cross-engine)."""
    import duckdb

    from geostatssolvers_jl_spark.webtext.heavyhitters import (
        heavy_hitters, heavy_hitters_oracle_sql,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                "'/root/testdata/sf0.01/documents.parquet'")
    for phi in (0.02, 0.005):
        got = {(r["token"], r["cnt"])
               for r in heavy_hitters(spark, docs, phi=phi).collect()}
        exp = set(map(tuple, con.execute(
            heavy_hitters_oracle_sql("duckdb", phi=phi)).fetchall()))
        assert got == exp, (phi, len(got), len(exp))


def test_heavy_hitters_no_false_negatives_adversarial(spark):
    """Vocabulary ≫ summary size with planted heavy tokens: the sketch
    guarantee (every token ≥ φ·N survives pruning) must hold — the
    output equals the exact answer even when the summaries overflow
    constantly."""
    rows = []
    # 20k distinct one-off tokens + two planted heavy tokens
    for i in range(2000):
        uniq = " ".join(f"tok{i}_{j}" for j in range(10))
        heavy = "alpha " * 3 + ("beta " if i % 2 == 0 else "")
        rows.append((i, heavy + uniq))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from geostatssolvers_jl_spark.webtext.heavyhitters import heavy_hitters

    out = {r["token"]: r["cnt"]
           for r in heavy_hitters(spark, df, phi=0.02).collect()}
    # alpha: 6000 of ~27k tokens (22%); beta: 1000 (3.7%); both ≥ 2%
    assert set(out) == {"alpha", "beta"}, out
    assert out["alpha"] == 6000 and out["beta"] == 1000


def test_heavy_hitters_validation_and_empty(spark):
    from geostatssolvers_jl_spark.webtext.heavyhitters import (
        heavy_hitters, misra_gries_partials,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert heavy_hitters(spark, docs, phi=0.1).count() == 0
    with pytest.raises(ValueError, match="phi"):
        heavy_hitters(spark, docs, phi=0.0)
    toks = spark.createDataFrame([("a",)] * 5, "w string")
    with pytest.raises(ValueError, match="m must"):
        misra_gries_partials(toks, 0)


def test_misra_gries_partials_bounded(spark):
    """Each partition emits at most m summary rows, however large its
    vocabulary."""
    from pyspark.sql import functions as F

    from geostatssolvers_jl_spark.webtext.heavyhitters import (
        misra_gries_partials,
    )

    toks = spark.range(50_000).selectExpr(
        "CAST(pmod(id, 9000) AS STRING) AS w").repartition(4)
    part = misra_gries_partials(toks, m=50)
    sizes = (part.withColumn("pid", F.spark_partition_id())
             .groupBy("pid").count().collect())
    assert all(r["count"] <= 50 for r in sizes)
    assert part.count() <= 4 * 50
