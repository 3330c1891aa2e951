"""Round-2 additions: VOI-LUT decode parity, redaction_plan ≡ pixel oracle,
scrub name escaping, multi-probe LSH recall, scale-safe embedding near-dup
plan shape, basis-point split semantics, idempotent streaming sink."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deidcm_spark import duck_oracle as dk
from deidcm_spark.operators import dedup, similarity
from deidcm_spark.operators.media import (
    dicom_decode_normalize,
    redaction_plan,
)
from deidcm_spark.operators.scrub import scrub_text, scrub_text_expr
from deidcm_spark.oracle import redact_pixels_oracle

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# VOI-LUT decode (dicom2png.py:15-51 parity incl. the voi_lut branch)
# ---------------------------------------------------------------------------

def _oracle_dicom2narray(arr, modality, slope, intercept, center, width,
                         monochrome1, voi_lut):
    """Independent re-derivation of the reference's dicom2narray maths
    (pydicom LINEAR VOI + modality rescale), written against the published
    formulas, not the engine code."""
    data = arr.astype(np.float64)
    if voi_lut and center is not None:
        if modality == "CT":
            data = data * slope + intercept
        c, w = float(center), float(width)
        y = ((data - (c - 0.5)) / (w - 1) + 0.5) * 255.0
        y[data <= c - 0.5 - (w - 1) / 2] = 0.0
        y[data > c - 0.5 + (w - 1) / 2] = 255.0
        data = y
    if monochrome1:
        data = data.max() - data
    data = data - data.min()
    if data.max() > 0:
        data = data / data.max()
    return (data * 255).astype(np.uint8)


@pytest.mark.parametrize("modality,mono", [("MR", False), ("CT", False), ("MR", True)])
def test_voi_lut_decode_matches_reference_maths(modality, mono):
    rng = np.arange(64 * 64, dtype=np.uint16).reshape(64, 64) % 4096
    got = dicom_decode_normalize(
        rng, modality=modality, rescale_slope=2.0, rescale_intercept=-1024.0,
        voi_center=1000.0, voi_width=1500.0, monochrome1=mono, voi_lut=True,
    )
    want = _oracle_dicom2narray(
        rng, modality, 2.0, -1024.0, 1000.0, 1500.0, mono, True
    )
    assert np.array_equal(got, want)


def test_voi_lut_off_equals_plain_normalize():
    from deidcm_spark.operators.media import normalize_to_uint8

    arr = (np.arange(32 * 32, dtype=np.uint16) % 1000).reshape(32, 32)
    assert np.array_equal(
        dicom_decode_normalize(arr, voi_lut=False), normalize_to_uint8(arr)
    )


def test_transform_media_voi_rows(spark):
    """Per-row VOI metadata drives the ramp; rows without metadata fall
    back to plain normalize — checked against direct kernel calls."""
    import pandas as pd

    from deidcm_spark.operators.media import decode_payload, transform_media

    a0 = (np.arange(96 * 96, dtype=np.uint16) % 2048).reshape(96, 96)
    rows = [
        {"media_ref": "v0", "width": 96, "height": 96, "channels": 1,
         "bits": 16, "pixels": a0.tobytes(), "voi_center": 800.0,
         "voi_width": 900.0, "modality": "MR", "rescale_slope": 1.0,
         "rescale_intercept": 0.0},
        {"media_ref": "v1", "width": 96, "height": 96, "channels": 1,
         "bits": 16, "pixels": a0.tobytes(), "voi_center": None,
         "voi_width": None, "modality": None, "rescale_slope": None,
         "rescale_intercept": None},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = {r["media_ref"]: r for r in transform_media(df, voi_lut=True).collect()}
    got0 = decode_payload(out["v0"].asDict())
    want0 = dicom_decode_normalize(a0, voi_center=800.0, voi_width=900.0, voi_lut=True)
    assert np.array_equal(got0, want0)
    got1 = decode_payload(out["v1"].asDict())
    want1 = dicom_decode_normalize(a0, voi_lut=False)
    assert np.array_equal(got1, want1)


# ---------------------------------------------------------------------------
# redaction_plan (codegen gates) ≡ redact_pixels_oracle (raw-box pixel gates)
# ---------------------------------------------------------------------------

def test_redaction_plan_matches_pixel_kernel(spark):
    """The SQL gate/geometry stage and the independent pixel oracle must
    agree: filling the planned rects reproduces redact_pixels_oracle byte
    for byte over the whole SQL box corpus."""
    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView("documents")
    boxes = spark.sql(dk.boxes_sql("spark"))
    by_ref: dict[str, list[dict]] = {}
    for r in boxes.collect():
        by_ref.setdefault(r["media_ref"], []).append(r.asDict())
    plan_rows = redaction_plan(boxes, margin=8, width=96, height=96).collect()
    rects: dict[str, list] = {}
    for r in plan_rows:
        rects.setdefault(r["media_ref"], []).append((r["xa"], r["ya"], r["xb"], r["yb"]))
    assert len(by_ref) > 50
    n_applied = 0
    for ref, blist in by_ref.items():
        base = np.zeros((96, 96), dtype=np.uint8) + 7
        want = redact_pixels_oracle(base, blist, margin=8)
        got = base.copy()
        for xa, ya, xb, yb in rects.get(ref, []):
            got[ya : yb + 1, xa : xb + 1] = 0
        assert np.array_equal(got, want), ref
        n_applied += len(rects.get(ref, []))
    assert n_applied > 0


# ---------------------------------------------------------------------------
# scrub name escaping (user input hardening)
# ---------------------------------------------------------------------------

def test_scrub_names_with_quotes_and_metachars(spark):
    df = spark.createDataFrame(
        [(1, "met o'hara and J.DOE then jxdoe stayed")], "doc_id int, text string"
    )
    out = scrub_text(df, ["o'hara", "j.doe"]).head()["text"]
    assert "[NAME]" in out
    assert "o'hara" not in out.lower()
    assert "j.doe" not in out.lower()
    # the dot must be literal: jxdoe is NOT a match
    assert "jxdoe" in out


def test_scrub_name_escaping_duckdb_dialect():
    import duckdb

    expr = scrub_text_expr("t", ["o'hara", "j.doe"], dialect="duckdb")
    got = duckdb.connect().execute(
        f"SELECT {expr} FROM (SELECT 'met o''hara and J.DOE then jxdoe' AS t)"
    ).fetchone()[0]
    assert got.count("[NAME]") == 2 and "jxdoe" in got


# ---------------------------------------------------------------------------
# multi-probe LSH recall (clustered corpus — where LSH is meaningful)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def clustered_emb(spark):
    import math

    # 15 tight clusters x 12 jittered members: a query's exact top-10 lives
    # inside its own cluster, which is the regime LSH is built for
    rows = []
    for c in range(15):
        base = [math.sin(0.31 * (c + 1) * (d + 3)) for d in range(16)]
        for j in range(12):
            vec = [
                float(x + 0.003 * math.sin(7.0 * (c + j + d)))
                for d, x in enumerate(base)
            ]
            rows.append((c * 100 + j, vec, c))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>, label: int")


def test_multiprobe_lsh_recall(spark, clustered_emb):
    recalls = []
    single = []
    for qid in (0, 301, 702):
        q = similarity.query_vector(clustered_emb, qid)
        exact = [r["vec_id"] for r in similarity.ann_brute_force(clustered_emb, q, k=10).collect()]
        multi = [r["vec_id"] for r in similarity.ann_lsh_bucketed(
            clustered_emb, q, k=10, n_planes=4, multiprobe=True).collect()]
        mono = [r["vec_id"] for r in similarity.ann_lsh_bucketed(
            clustered_emb, q, k=10, n_planes=4, multiprobe=False).collect()]
        recalls.append(len(set(exact) & set(multi)) / len(exact))
        single.append(len(set(exact) & set(mono)) / len(exact))
    assert sum(recalls) / len(recalls) >= 0.95, (recalls, single)
    assert sum(recalls) >= sum(single)


def test_query_signature_matches_sql(spark, clustered_emb):
    q = similarity.query_vector(clustered_emb, 3)
    sql_sig = clustered_emb.filter("vec_id = 3").select(
        F.expr(similarity.signature_expr("embedding", 6, len(q))).alias("s")
    ).head()["s"]
    py_sig = "".join(str(b) for b in similarity.query_signature_bits(q, 6))
    assert sql_sig == py_sig


# ---------------------------------------------------------------------------
# scale-safe embedding near-dup: equi-join plan + brute equality
# ---------------------------------------------------------------------------

def test_embedding_neardup_no_cartesian(spark, clustered_emb):
    df = dedup.embedding_neardup_pairs(clustered_emb, 0.999)
    df.collect()  # finalize AQE before reading the executed plan (CLAUDE.md)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_matches_brute(spark, clustered_emb):
    lsh = {(r["id_a"], r["id_b"]) for r in dedup.embedding_neardup_pairs(clustered_emb, 0.999).collect()}
    brute = {(r["id_a"], r["id_b"]) for r in dedup.embedding_neardup_pairs_brute(clustered_emb, 0.999).collect()}
    assert lsh == brute and len(brute) > 0


# ---------------------------------------------------------------------------
# basis-point split semantics
# ---------------------------------------------------------------------------

def test_split_bp_fractions(spark):
    from deidcm_spark.operators.textops import deterministic_split, hash_sample

    d = spark.read.parquet(f"{SF}/documents.parquet")
    n = d.count()
    val = deterministic_split(d, val_bp=5000).filter("split = 'val'").count()
    assert abs(val / n - 0.5) < 0.1  # 5000 bp = 50%
    kept = hash_sample(d, keep_bp=2500).count()
    assert abs(kept / n - 0.25) < 0.1  # 2500 bp = 25%


# ---------------------------------------------------------------------------
# idempotent streaming sink (exactly-once output under replay)
# ---------------------------------------------------------------------------

def test_idempotent_batch_write_survives_replay(spark, tmp_path):
    from deidcm_spark.streaming import _idempotent_write

    out_dir = str(tmp_path / "sink")
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    _idempotent_write(df, 0, out_dir)
    _idempotent_write(df, 0, out_dir)  # replayed micro-batch
    _idempotent_write(df, 1, out_dir)
    got = spark.read.parquet(out_dir)
    assert got.count() == 20  # batch 0 written once despite replay
    assert got.select("batch_id").distinct().count() == 2


# ---------------------------------------------------------------------------
# new text/training operators (round 2)
# ---------------------------------------------------------------------------

def test_quality_flags_values(spark):
    df = spark.createDataFrame(
        [(1, "Aa aa aa 12 http://x.io end")], "doc_id int, text string"
    )
    r = __import__("deidcm_spark.operators.textops", fromlist=["quality_flags"]).quality_flags(df).head()
    # 6 lowercased tokens, 4 distinct ("aa" x3)
    assert r["repetition_ratio"] == round(1 - 4 / 6, 4)
    assert r["n_urls"] == 1
    assert r["digit_ratio"] == round(2 / len("Aa aa aa 12 http://x.io end"), 4)


def test_vocab_and_tfidf(spark):
    from deidcm_spark.operators.textops import tfidf_top_term, vocab_top_terms

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry cherry cherry")],
        "doc_id int, text string",
    )
    vocab = {r["token"]: r["n"] for r in vocab_top_terms(df, k=10).collect()}
    assert vocab == {"apple": 2, "banana": 2, "cherry": 3}
    top = {r["doc_id"]: r["top_term"] for r in tfidf_top_term(df).collect()}
    # "banana" appears in both docs (idf ~ ln(3/3)=0); unique terms win
    assert top == {1: "apple", 2: "cherry"}


def test_dedup_decisions_keeps_min_id(spark):
    from deidcm_spark.operators.dedup import dedup_decisions

    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["keep"] for r in dedup_decisions(df, threshold=0.9).collect()}
    assert got == {1: 1, 2: 0, 3: 1}


# ---------------------------------------------------------------------------
# stateful streaming dedup (first-arrival keeper, state bounded per key)
# ---------------------------------------------------------------------------

def test_stream_dedup_exact_first_arrival(spark, tmp_path):
    from deidcm_spark.streaming import stream_dedup_exact

    in_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "dd_out")
    ck = str(tmp_path / "ck")
    base = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    b1 = base.filter("doc_id < 50")
    b1.write.mode("append").parquet(in_dir)
    q = stream_dedup_exact(spark, in_dir, out_dir, ck)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out_dir).collect()
    assert len(got1) == 50

    # batch 2: exact duplicates of 0-49 under new ids + 10 genuinely new docs
    dup = b1.selectExpr("doc_id + 1000 as doc_id", "text", "lang", "source")
    new = base.filter("doc_id >= 50 and doc_id < 60")
    dup.unionByName(new).write.mode("append").parquet(in_dir)
    q2 = stream_dedup_exact(spark, in_dir, out_dir, ck)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out_dir).collect()
    # only the 10 new fingerprints emit; the 50 replayed ones are in state
    assert len(got2) == 60
    assert {r["keep_doc_id"] for r in got2} == set(range(60))
    assert len({r["fp"] for r in got2}) == 60


# ---------------------------------------------------------------------------
# empty-input edges for the round-2 operators
# ---------------------------------------------------------------------------

def test_new_operators_on_empty_corpus(spark):
    from deidcm_spark.operators.textops import (
        quality_flags, tfidf_top_term, vocab_top_terms,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert vocab_top_terms(empty).count() == 0
    assert tfidf_top_term(empty).count() == 0
    assert quality_flags(empty).count() == 0
    assert dedup.dedup_decisions(empty).count() == 0

    eboxes = spark.createDataFrame(
        [], "media_ref string, box_idx int, x1 int, y1 int, x2 int, y2 int, "
            "word string, confidence double"
    )
    assert redaction_plan(eboxes).count() == 0


def test_ivf_more_centroids_than_rows(spark):
    """ADVICE regression: n_centroids > corpus size must clamp, not crash."""
    emb = spark.createDataFrame(
        [(i, [float(i + d) for d in range(4)], 0) for i in range(3)],
        "vec_id: long, embedding: array<float>, label: int",
    )
    cents = similarity.ivf_centroids(emb, n_centroids=8)
    assert len(cents) == 3
    q = similarity.query_vector(emb, 0)
    got = similarity.ann_ivf(emb, q, k=2, n_centroids=8, nprobe=2).collect()
    assert got[0]["vec_id"] == 0


# ---------------------------------------------------------------------------
# shard packing (distributed prefix sum) + stratified sampling
# ---------------------------------------------------------------------------

def test_pack_shards_block_size_invariant(spark):
    """The two-pass prefix sum must equal the global-window semantics for
    ANY block size — including one block per doc and one giant block."""
    from deidcm_spark.operators.textops import pack_shards

    d = spark.read.parquet(f"{SF}/documents.parquet")
    ref = {r["doc_id"]: r["shard_id"]
           for r in pack_shards(d, capacity_tokens=512, block_size=10**9).collect()}
    for bs in (1, 7, 100):
        got = {r["doc_id"]: r["shard_id"]
               for r in pack_shards(d, capacity_tokens=512, block_size=bs).collect()}
        assert got == ref, bs


def test_pack_shards_capacity_semantics(spark):
    """Shards are contiguous in doc_id order and every shard break happens
    exactly when the running total crosses a capacity boundary."""
    from deidcm_spark.operators.textops import pack_shards

    d = spark.read.parquet(f"{SF}/documents.parquet")
    rows = sorted(
        pack_shards(d, capacity_tokens=1024, block_size=50).collect(),
        key=lambda r: r["doc_id"],
    )
    before = 0
    for r in rows:
        assert r["shard_id"] == before // 1024
        before += r["n_tokens"]
    assert rows[-1]["shard_id"] > 0  # corpus spans multiple shards


def test_stratified_sample_rates(spark):
    from deidcm_spark.operators.textops import stratified_sample

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    kept = stratified_sample(d, {"en": 10000, "fr": 0}, default_bp=0)
    langs = {r["lang"] for r in kept.collect()}
    assert langs == {"en"}
    n_en = d.filter("lang = 'en'").count()
    assert kept.count() == n_en  # 10000 bp keeps every en doc


def test_redaction_plan_gate_uses_first_present_box(spark):
    """Box tables need not start at box_idx 0 (pre-filtered detections):
    the confidence gate anchors to the smallest index PRESENT, like the
    reference's ocr_data[0] over its ordered detections."""
    rows = [
        # image A: indices 3,7 — first present (3) is confident -> redact
        ("a", 3, 10, 10, 20, 20, "WORDY", 0.9),
        ("a", 7, 30, 30, 40, 40, "OTHER", 0.8),
        # image B: first present (2) is low-confidence -> whole image passes
        ("b", 2, 10, 10, 20, 20, "WORDY", 0.1),
        ("b", 5, 30, 30, 40, 40, "OTHER", 0.9),
    ]
    boxes = spark.createDataFrame(
        rows,
        "media_ref string, box_idx int, x1 int, y1 int, x2 int, y2 int, "
        "word string, confidence double",
    )
    plan = redaction_plan(boxes, margin=2, width=96, height=96).collect()
    by_ref = {}
    for r in plan:
        by_ref.setdefault(r["media_ref"], []).append(r["box_idx"])
    assert sorted(by_ref.get("a", [])) == [3, 7]
    assert "b" not in by_ref


# ---------------------------------------------------------------------------
# second review-pass regressions
# ---------------------------------------------------------------------------

def test_voi_width_one_threshold_semantics():
    """WindowWidth <= 1 is the DICOM threshold degenerate — must not divide
    by zero; values <= center-0.5 go to 0, the rest to max."""
    from deidcm_spark.operators.media import apply_voi_lut_linear

    d = np.array([[0, 99], [100, 200]], dtype=np.float64)
    out = apply_voi_lut_linear(d, center=100.0, width=1.0)
    assert out.tolist() == [[0.0, 0.0], [255.0, 255.0]]
    assert np.isfinite(out).all()


def test_voi_null_width_falls_back(spark):
    import pandas as pd

    from deidcm_spark.operators.media import (
        decode_payload, dicom_decode_normalize, transform_media,
    )

    a0 = (np.arange(32 * 32, dtype=np.uint16) % 512).reshape(32, 32)
    rows = [{"media_ref": "w", "width": 32, "height": 32, "channels": 1,
             "bits": 16, "pixels": a0.tobytes(), "voi_center": 100.0,
             "voi_width": None, "modality": None, "rescale_slope": None,
             "rescale_intercept": None}]
    out = transform_media(spark.createDataFrame(pd.DataFrame(rows)), voi_lut=True).head()
    got = decode_payload(out.asDict())
    assert np.array_equal(got, dicom_decode_normalize(a0, voi_lut=False))


def test_embedding_neardup_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    assert dedup.embedding_neardup_pairs(empty, 0.9).count() == 0


def test_text_stats_equals_joined_operators(spark):
    from deidcm_spark.operators import textops

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    one = {r["doc_id"]: r.asDict() for r in textops.text_stats(d).collect()}
    joined = (
        textops.token_count(d)
        .join(textops.quality_score(d).drop("n_tokens"), "doc_id")
        .join(textops.quality_flags(d), "doc_id")
        .join(textops.lang_id(d), "doc_id")
        .join(textops.fingerprint(d), "doc_id")
    )
    many = {r["doc_id"]: r.asDict() for r in joined.collect()}
    assert one == many
    # and it really is one scan: no joins/exchanges in the plan
    df = textops.text_stats(d)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


def test_write_bucketed_from_self_survives(spark):
    """Re-bucketing a table from itself must not destroy the source while
    the write is still reading it (write-then-swap)."""
    from deidcm_spark.sources import write_bucketed

    base = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    write_bucketed(base, "bt_selftest", "k", 4)
    derived = spark.table("bt_selftest").selectExpr("k", "v + 1 AS v")
    write_bucketed(derived, "bt_selftest", "k", 4)
    got = {r["k"]: r["v"] for r in spark.table("bt_selftest").collect()}
    assert got == {i: i * 2 + 1 for i in range(100)}


# ---------------------------------------------------------------------------
# PIL-spec blur ring kernel + LANCZOS resample (parity-faithful numpy)
# ---------------------------------------------------------------------------

def test_pil_blur_ring_kernel_semantics():
    from deidcm_spark.operators.media import pil_blur

    # impulse response: the BLUR kernel is a 5x5 RING (weights 1/16 at
    # Chebyshev distance 2, zero elsewhere incl. center)
    img = np.zeros((9, 9), dtype=np.uint8)
    img[4, 4] = 160
    out = pil_blur(img, iterations=1)
    assert out[4, 4] == 0  # center weight is zero
    assert out[2, 2] == 10  # ring corner: 160/16
    assert out[2, 4] == 10  # ring edge
    assert out[3, 3] == 0  # inside the ring
    # border (2px) passes through unfiltered
    img2 = (np.arange(81, dtype=np.uint8)).reshape(9, 9)
    out2 = pil_blur(img2, 1)
    assert np.array_equal(out2[:2], img2[:2]) and np.array_equal(out2[:, :2], img2[:, :2])
    # independent full convolution cross-check on the interior
    kern = np.zeros((5, 5))
    kern[[0, -1], :] = 1
    kern[:, [0, -1]] = 1
    ref = np.zeros_like(img2, dtype=np.float64)
    for y in range(2, 7):
        for x in range(2, 7):
            ref[y, x] = (img2[y - 2 : y + 3, x - 2 : x + 3] * kern).sum() / 16
    assert np.array_equal(out2[2:7, 2:7], np.floor(ref[2:7, 2:7] + 0.5).astype(np.uint8))
    # too-small crops pass through (PIL would raise; our contract is no-op)
    tiny = np.full((3, 3), 50, dtype=np.uint8)
    assert np.array_equal(pil_blur(tiny, 30), tiny)


def test_resize_lanczos_properties():
    from deidcm_spark.operators.media import resize_lanczos

    # constant image stays constant (weights normalized)
    const = np.full((64, 48), 77, dtype=np.uint8)
    out = resize_lanczos(const, 4)
    assert out.shape == (16, 12) and set(out.ravel().tolist()) == {77}
    # a linear ramp resamples to (approximately) the same ramp
    ramp = np.tile(np.arange(0, 256, 4, dtype=np.uint8), (64, 1))
    out = resize_lanczos(ramp, 4)
    mids = out[8, 2:-2].astype(float)
    diffs = np.diff(mids)
    assert (diffs > 0).all() and abs(diffs.mean() - 16) < 1.5
    # RGB shape handling
    rgb = np.random.RandomState(7).randint(0, 255, (32, 32, 3)).astype(np.uint8)
    assert resize_lanczos(rgb, 2).shape == (16, 16, 3)


def test_blur_mode_uses_ring_kernel(spark):
    """redact_array blur mode destroys content via the PIL-spec ring blur."""
    from deidcm_spark.operators.media import redact_array

    img = np.zeros((40, 40), dtype=np.uint8)
    img[10:20, 10:20] = 200
    out = redact_array(
        img, [{"box_idx": 0, "xa": 8, "ya": 8, "xb": 24, "yb": 24}], mode="blur"
    )
    region = out[8:25, 8:25]
    assert not np.array_equal(region, img[8:25, 8:25])
    assert 0 < region.mean() < 200


# ---------------------------------------------------------------------------
# permanent parity sweeps: dec30 limb division, det_str translate table
# ---------------------------------------------------------------------------

def test_dec30_limb_division_vs_python_bigint():
    """The pure-SQL sha256→first-30-decimal-digits conversion (the
    phi_scrub_uids oracle core) equals Python's arbitrary-precision int on
    hundreds of digests."""
    import hashlib

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT range AS i, "
        "sha256('probe' || CAST(range AS varchar)) AS h FROM range(300)"
    )
    frag, last, expr = dk.dec30_ctes("t", "h")
    sql = f"WITH base AS (SELECT 1){frag}\nSELECT i, {expr} AS d30 FROM {last} ORDER BY i"
    for i, d30 in con.execute(sql).fetchall():
        want = str(int(hashlib.sha256(f"probe{i}".encode()).hexdigest(), 16))[:30]
        assert d30 == want, i


def test_det_str_translate_matches_naive_spec():
    """kernels.det_str (bytes.translate fast path) is byte-identical to a
    naive per-byte implementation of the documented spec."""
    import hashlib
    import string

    from deidcm_spark.kernels import det_str

    def naive(alphabet, length, *keys):
        seed = "\x1f".join(keys)
        out, i = [], 0
        while len(out) < length:
            for b in hashlib.sha256(f"{seed}#{i}".encode("utf8")).digest():
                out.append(alphabet[b % len(alphabet)])
            i += 1
        return "".join(out[:length])

    for i in range(500):
        for alpha, ln in ((string.ascii_letters, 16), (string.ascii_letters, 64),
                          (string.digits, 8), ("ab", 5)):
            assert det_str(alpha, ln, "s", f"d{i}", "k") == naive(alpha, ln, "s", f"d{i}", "k")


def test_neardup_components_chain_closure(spark):
    """Transitive chains collapse to one component (the closure the greedy
    KEEP/DROP skips): pairs (1,2) and (2,3) without (1,3) must still give
    all three documents component 1 — driven on an explicit edge list so
    the topology is exact (the LSH-integrated path is oracle-checked)."""
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 5, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    comp = {r["doc_id"]: r["component"]
            for r in dedup.neardup_components(df, pairs=pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == 4
    assert comp[9] == 9  # isolated doc keeps itself


def test_blur_small_crop_and_uint16():
    """Review regressions: a <5x5 blur crop must still destroy content
    (mean fill), and 16-bit payloads keep their value range."""
    from deidcm_spark.operators.media import pil_blur, redact_array

    img = np.zeros((20, 20), dtype=np.uint8)
    img[5:8, 5:7] = 220  # PHI glyph on black background, crop < 5x5
    out = redact_array(
        img, [{"box_idx": 0, "xa": 5, "ya": 5, "xb": 8, "yb": 7}], mode="blur"
    )
    region = out[5:8, 5:9]
    assert len(set(region.ravel().tolist())) == 1  # mean-filled, not legible
    assert not np.array_equal(region, img[5:8, 5:9])

    big16 = np.full((12, 12), 60000, dtype=np.uint16)
    blurred = pil_blur(big16, 1)
    assert blurred.dtype == np.uint16 and blurred[5, 5] == 60000  # no 255 crush


def test_neardup_components_nonconvergence_raises(spark):
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, text string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup.neardup_components(df, pairs=chain, max_iter=1)
    ok = {r["doc_id"]: r["component"]
          for r in dedup.neardup_components(df, pairs=chain, max_iter=10).collect()}
    assert set(ok.values()) == {0}
