"""The spark-submit job main (``python -m deidcm_spark``): each subcommand
end-to-end in-process, the bucket-committed deid and extract jobs
included."""

import contextlib
import io
import json

import pytest

from deidcm_spark.__main__ import build_parser, main

SF = "/root/testdata/sf0.001"


def _run(capsys, argv):
    main(argv)
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    """The sf0.001 documents in span form: the ``ingest`` command's output
    path and the summary it printed."""
    path = str(tmp_path_factory.mktemp("cli_spans") / "spans")
    printed = io.StringIO()
    with contextlib.redirect_stdout(printed):
        main(["ingest", "--input", f"{SF}/documents.parquet", "--output", path])
    return path, json.loads(printed.getvalue().strip().splitlines()[-1])


@pytest.fixture(scope="module")
def spans(ingested):
    return ingested[0]


def _deid(spans, out, *extra):
    return ["deid", "--input", spans, "--output", out, "--org-root", "9.9.9.9.9",
            *extra]


def test_cli_ingest_then_deid(tmp_path, capsys, spark, ingested):
    """deid is the bucket-committed job: <out>/data holds the documents in
    hive ``bucket=`` partitions, and ``export`` reads that directory."""
    import os

    spans, summary = ingested
    assert summary["docs"] == 500
    out = str(tmp_path / "deid")
    r = _run(capsys, _deid(spans, out, "--buckets", "8"))
    assert r["processed"] == 8 and r["docs"] == 500
    back = spark.read.parquet(f"{out}/data")
    assert back.count() == 500
    assert back.filter("n_removed > 0").count() > 0
    parts = [p for p in os.listdir(f"{out}/data") if not p.startswith(("_", "."))]
    assert sorted(parts) == sorted(f"bucket={b}" for b in range(8))
    exported = str(tmp_path / "exported")
    _run(capsys, ["export", "--input", f"{out}/data", "--output", exported])
    meta = spark.read.option("header", True).csv(os.path.join(exported, "meta"))
    assert meta.count() == 500


def test_cli_deid_resume(tmp_path, capsys, spark, spans):
    out = str(tmp_path / "deid_resume")
    r = _run(capsys, _deid(spans, out, "--buckets", "8"))
    assert r["processed"] == 8
    r2 = _run(capsys, _deid(spans, out, "--buckets", "8"))
    assert r2 == {"run_id": "run0", "committed_before": 8, "processed": 0}


@pytest.mark.parametrize("changed", [
    ["--buckets", "16"], ["--buckets", "8", "--salt", "other"],
    ["--buckets", "8", "--date-mode", "offset"],
])
def test_cli_deid_rerun_with_other_settings_raises(tmp_path, capsys, spark, spans,
                                                   changed):
    """A rerun into the same --output under another bucket count, salt or
    date rule would resume (or report complete) a run it did not start:
    it raises and leaves the output as it was."""
    import os

    out = str(tmp_path / "deid_settings")
    _run(capsys, _deid(spans, out, "--buckets", "8"))
    before = sorted(os.listdir(f"{out}/data"))
    with pytest.raises(ValueError, match="records other"):
        main(_deid(spans, out, *changed))
    assert sorted(os.listdir(f"{out}/data")) == before


def test_cli_extract_then_deid(tmp_path, capsys, spark):
    """extract's <out>/data carries the stored bucket column: deid with the
    same --buckets reads it as is, a different --buckets fails the
    stored-bucket probe instead of committing a wrong bucket layout."""
    ex = str(tmp_path / "extract")
    r = _run(capsys, ["extract", "--input", f"{SF}/documents.parquet", "--output", ex,
                      "--buckets", "8"])
    assert r["processed"] == 8 and r["docs"] == 500
    r = _run(capsys, _deid(f"{ex}/data", str(tmp_path / "deid"), "--buckets", "8"))
    assert r["processed"] == 8 and r["docs"] == 500
    with pytest.raises(ValueError, match="stored bucket column does not match"):
        main(_deid(f"{ex}/data", str(tmp_path / "deid16"), "--buckets", "16"))


def test_cli_extract_and_scrub(tmp_path, capsys, spark):
    ex = str(tmp_path / "extract")
    sc = str(tmp_path / "scrub")
    r = _run(capsys, ["extract", "--input", f"{SF}/documents.parquet", "--output", ex])
    assert r["docs"] == 500
    r = _run(capsys, [
        "scrub", "--input", f"{SF}/documents.parquet", "--output", sc,
        "--org-root", "9.9.9.9.9", "--names", "dupont,martin",
    ])
    assert r["docs"] == 500


def test_cli_export(tmp_path, capsys, spark, spans):
    import os

    out = str(tmp_path / "exported")
    r = _run(capsys, ["export", "--input", spans, "--output", out])
    assert r["out_dir"] == out
    assert os.path.exists(os.path.join(out, "meta")) and os.path.exists(
        os.path.join(out, "rendered")
    )
    meta = spark.read.option("header", True).csv(os.path.join(out, "meta"))
    assert meta.count() == 500


def test_cli_requires_command():
    with pytest.raises(SystemExit):
        build_parser().parse_args([])


def test_cli_pipeline_free_text_lane(tmp_path, capsys, spark):
    out = str(tmp_path / "pipeline")
    r = _run(capsys, [
        "pipeline", "--input", f"{SF}/documents.parquet", "--output", out,
        "--org-root", "9.9.9.9.9", "--names", "dupont",
    ])
    assert r["docs"] == 500
    back = spark.read.parquet(out)
    one = back.first()
    assert one["spans"][0]["text"].startswith("Document ")


def test_cli_dedup_and_textstats(tmp_path, capsys, spark):
    # build a corpus with known duplicates: docs 0-49 twice
    src = str(tmp_path / "dup_src")
    base = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).filter("doc_id < 50")
    base.unionByName(
        base.selectExpr("doc_id + 1000 as doc_id", "text")
    ).write.parquet(src)

    out = str(tmp_path / "dedup_out")
    r = _run(capsys, [
        "dedup", "--input", src, "--output", out,
        "--threshold", "0.9", "--shuffle-partitions", "8",
    ])
    # every planted duplicate drops; the corpus may hold a few organic
    # near-dups among the originals too (hence >=)
    assert r["docs"] == 100 and r["dropped"] >= 50 and r["pairs"] >= 50
    dec = {x["doc_id"]: x["keep"] for x in spark.read.parquet(out + "/decisions").collect()}
    assert all(dec[i + 1000] == 0 for i in range(50))
    assert dec[0] == 1  # doc 0 can never drop (smallest id)

    ts = str(tmp_path / "stats_out")
    r = _run(capsys, [
        "textstats", "--input", f"{SF}/documents.parquet", "--output", ts,
        "--shuffle-partitions", "8",
    ])
    assert r["docs"] == 500
    cols = set(spark.read.parquet(ts).columns)
    assert {"doc_id", "n_tokens", "quality", "repetition_ratio",
            "lang_pred", "fp_exact"} <= cols


def test_cli_semdedup_codebook_reuse(tmp_path, capsys, spark):
    out1 = str(tmp_path / "sd1")
    out2 = str(tmp_path / "sd2")
    emb = f"{SF}/embeddings.parquet"
    r = _run(capsys, [
        "semdedup", "--input", emb, "--output", out1,
        "--threshold", "0.45", "--centroids", "8", "--shuffle-partitions", "8",
    ])
    assert r["vectors"] == 500 and r["clusters"] == 8 and r["dropped"] > 0
    # second run pruning against the FIRST run's codebook must agree
    r2 = _run(capsys, [
        "semdedup", "--input", emb, "--output", out2,
        "--threshold", "0.45", "--codebook", out1 + "/codebook",
        "--shuffle-partitions", "8",
    ])
    assert r2 == r
    a = sorted(spark.read.parquet(out1 + "/decisions").collect())
    b = sorted(spark.read.parquet(out2 + "/decisions").collect())
    assert a == b


def test_cli_dsir(tmp_path, capsys, spark):
    out = str(tmp_path / "dsir")
    docs = f"{SF}/documents.parquet"
    tgt = str(tmp_path / "target")
    spark.read.parquet(docs).filter("lang = 'en'").limit(50).write.parquet(tgt)
    r = _run(capsys, [
        "dsir", "--input", docs, "--target", tgt, "--k", "40",
        "--output", out, "--shuffle-partitions", "8",
    ])
    assert r == {"selected": 40, "k": 40}
    sel = spark.read.parquet(out)
    assert set(sel.columns) == {"doc_id", "logw", "gumbel_key"}


def test_cli_ppl(tmp_path, capsys, spark):
    out = str(tmp_path / "ppl")
    docs = f"{SF}/documents.parquet"
    ref = str(tmp_path / "ref")
    spark.read.parquet(docs).filter("lang = 'en'").write.parquet(ref)
    r = _run(capsys, [
        "ppl", "--input", docs, "--reference", ref, "--output", out,
        "--buckets", "4096", "--shuffle-partitions", "8",
    ])
    assert r["docs"] == 500 and 0 < r["scored"] <= 500
    cols = set(spark.read.parquet(out).columns)
    assert cols == {"doc_id", "n_bigrams", "logprob_avg", "ppl"}


def test_cli_bpe_train_and_reuse(tmp_path, capsys, spark):
    out1, out2 = str(tmp_path / "bpe1"), str(tmp_path / "bpe2")
    docs = f"{SF}/documents.parquet"
    r = _run(capsys, [
        "bpe", "--input", docs, "--output", out1, "--n-merges", "15",
        "--shuffle-partitions", "8",
    ])
    assert r["docs"] == 500 and r["merges"] == 15
    assert r["bpe_tokens"] < r["words"] * 10  # merges compress vs raw chars
    # reuse the persisted tokenizer: identical counts, no retraining
    r2 = _run(capsys, [
        "bpe", "--input", docs, "--output", out2,
        "--merges", out1 + "/merges", "--shuffle-partitions", "8",
    ])
    assert r2 == r
    a = sorted(spark.read.parquet(out1 + "/counts").collect())
    b = sorted(spark.read.parquet(out2 + "/counts").collect())
    assert a == b


def test_cli_compact(tmp_path, capsys, spark):
    frag, out = str(tmp_path / "frag"), str(tmp_path / "out")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(32).write.parquet(frag)
    r = _run(capsys, [
        "compact", "--input", frag, "--output", out, "--target-mb", "512",
        "--shuffle-partitions", "8",
    ])
    assert r["files_in"] == 32 and r["files_out"] == 1
    assert spark.read.parquet(out).count() == 500


def test_cli_linededup_and_substrdedup(tmp_path, capsys, spark):
    ld = str(tmp_path / "linededup")
    sd = str(tmp_path / "substrdedup")
    r = _run(capsys, [
        "linededup", "--input", f"{SF}/documents.parquet", "--output", ld,
        "--min-line-chars", "5", "--shuffle-partitions", "8",
    ])
    assert r["docs"] == 500 and r["lines"] >= r["dropped_lines"] >= 0
    r = _run(capsys, [
        "substrdedup", "--input", f"{SF}/documents.parquet", "--output", sd,
        "--window", "8", "--shuffle-partitions", "8",
    ])
    assert r["docs"] == 500 and 0 <= r["removed_tokens"] <= r["tokens"]
    back = spark.read.parquet(sd)
    assert set(back.columns) == {
        "doc_id", "text", "n_tokens", "n_removed_tokens", "n_dup_windows"
    }


def test_cli_bloom_build_then_probe(tmp_path, capsys, spark):
    """Build a filter on the corpus, then probe the SAME corpus as a
    'shard': every doc is a re-crawl, so fresh must be 0; then probe a
    disjoint synthetic shard and get them all back."""
    b1 = str(tmp_path / "bloom1")
    r = _run(capsys, [
        "bloom", "--input", f"{SF}/documents.parquet", "--output", b1,
        "--bits", str(1 << 18), "--shuffle-partitions", "8",
    ])
    assert r["filter_words"] > 0 and "fresh" not in r
    b2 = str(tmp_path / "bloom2")
    r = _run(capsys, [
        "bloom", "--input", f"{SF}/documents.parquet", "--output", b2,
        "--filter", f"{b1}/filter", "--bits", str(1 << 18),
        "--shuffle-partitions", "8",
    ])
    assert r["input"] == 500 and r["fresh"] == 0
    new = str(tmp_path / "newshard")
    spark.createDataFrame(
        [(10_000 + i, f"genuinely new shard document {i}") for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(new)
    b3 = str(tmp_path / "bloom3")
    r = _run(capsys, [
        "bloom", "--input", new, "--output", b3,
        "--filter", f"{b2}/filter", "--bits", str(1 << 18),
        "--shuffle-partitions", "8",
    ])
    assert r["fresh"] == 40  # 2^18 bits vs ~540 fps: FP odds negligible
    # the updated filter absorbed the new shard: re-probe finds nothing new
    b4 = str(tmp_path / "bloom4")
    r = _run(capsys, [
        "bloom", "--input", new, "--output", b4,
        "--filter", f"{b3}/filter", "--bits", str(1 << 18),
        "--shuffle-partitions", "8",
    ])
    assert r["fresh"] == 0


def test_cli_packseq(tmp_path, capsys, spark):
    out = str(tmp_path / "packseq")
    r = _run(capsys, [
        "packseq", "--input", f"{SF}/documents.parquet", "--output", out,
        "--seq-len", "256", "--shuffle-partitions", "8",
    ])
    assert r["pieces"] >= r["sequences"] > 0
    assert r["tokens"] > 0


def test_cli_qualitygate(tmp_path, capsys, spark):
    out = str(tmp_path / "qg")
    r = _run(capsys, [
        "qualitygate", "--input", f"{SF}/documents.parquet", "--output", out,
        "--shuffle-partitions", "8",
    ])
    assert r["docs"] == 500 and 0 <= r["kept"] <= 500
    assert sum(r["dropped_by_rule"].values()) >= r["docs"] - r["kept"]


def test_cli_qualityfilter(tmp_path, capsys, spark):
    # positive seed = a deterministic slice of the corpus; negative
    # defaults to --input itself (the GPT-3 crawl-as-negative convention)
    pos = str(tmp_path / "pos")
    out = str(tmp_path / "qf")
    (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter("doc_id % 7 = 0").select("doc_id", "text")
        .write.parquet(pos)
    )
    model = str(tmp_path / "qf_model")
    r = _run(capsys, [
        "qualityfilter", "--input", f"{SF}/documents.parquet",
        "--positive", pos, "--output", out, "--normalize",
        "--buckets", "512", "--save-model", model,
        "--shuffle-partitions", "8",
    ])
    assert r["docs"] == 500 and 0 <= r["kept"] <= 500
    back = spark.read.parquet(out)
    assert {"doc_id", "prob", "pareto_draw"} <= set(back.columns)
    assert back.filter("prob > 1.0 - pareto_draw").count() == back.count()
    # the persisted model reloads and reproduces the scores
    from deidcm_spark.operators.classify import load_model, nb_score

    w2, m2 = load_model(spark, model)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    rescored = nb_score(docs, w2, m2, normalize=True)
    kept2 = {r2["doc_id"] for r2 in back.collect()}
    probs = {r2["doc_id"]: r2["prob"] for r2 in rescored.collect()}
    for r2 in back.collect():
        assert probs[r2["doc_id"]] == r2["prob"]
    assert m2["n_buckets"] == 512 and len(kept2) == r["kept"]


def test_cli_balance(tmp_path, capsys, spark):
    out = str(tmp_path / "bal")
    r = _run(capsys, [
        "balance", "--input", f"{SF}/embeddings.parquet", "--output", out,
        "--k", "40", "--policy", "uniform", "--salts", "3",
        "--shuffle-partitions", "8",
    ])
    assert r["selected"] == 40 and r["clusters"] > 1
    back = spark.read.parquet(out)
    assert {"vec_id", "cluster"} <= set(back.columns)


def test_cli_report(tmp_path, capsys, spark):
    out = str(tmp_path / "report")
    r = _run(capsys, [
        "report", "--input", f"{SF}/documents.parquet", "--output", out,
        "--shuffle-partitions", "8",
    ])
    assert r["docs"] == 500 and r["slices"] > 0 and 0 <= r["kept"] <= 500
    r = _run(capsys, [
        "report", "--input", f"{SF}/documents.parquet", "--output", out,
        "--sketches", "--shuffle-partitions", "8",
    ])
    assert r["docs"] == 500
    back = spark.read.parquet(out)
    for c in ("distinct_texts_est", "p50_tokens", "p90_tokens"):
        assert c in back.columns
    assert back.filter("distinct_texts_est > 0").count() == back.count()


def test_cli_urldedup_and_domainfilter(tmp_path, capsys, spark):
    recs = str(tmp_path / "recs")
    spark.createDataFrame(
        [
            (1, "https://a.example/x?utm_source=f"),
            (2, "https://A.example/x#frag"),
            (3, "https://ads.example/banner"),
            (4, "https://ok.example/y"),
        ],
        "doc_id bigint, url string",
    ).write.parquet(recs)
    out = str(tmp_path / "ud")
    r = _run(capsys, [
        "urldedup", "--input", recs, "--output", out,
        "--shuffle-partitions", "8",
    ])
    assert r == {"rows": 4, "kept": 3}  # docs 1+2 collapse
    bl = tmp_path / "bl.txt"
    bl.write_text("ads.example\n\n")
    out2 = str(tmp_path / "df")
    r = _run(capsys, [
        "domainfilter", "--input", recs, "--output", out2,
        "--blocklist", str(bl), "--mode", "flag", "--shuffle-partitions", "8",
    ])
    assert r == {"rows_in": 4, "rows_out": 4, "blocked": 1}
    out3 = str(tmp_path / "dfr")
    r = _run(capsys, [
        "domainfilter", "--input", recs, "--output", out3,
        "--blocklist", str(bl), "--shuffle-partitions", "8",
    ])
    assert r == {"rows_in": 4, "rows_out": 3}


def test_cli_mix_and_budget(tmp_path, capsys, spark):
    out = str(tmp_path / "mix")
    r = _run(capsys, [
        "mix", "--source", f"web={SF}/documents.parquet@0.5",
        "--source", f"books={SF}/documents.parquet@2.25",
        "--output", out, "--shuffle-partitions", "8",
    ])
    assert r["per_source"]["books"] > 1000  # two epochs + a quarter
    assert 150 < r["per_source"]["web"] < 350
    assert r["rows"] == sum(r["per_source"].values())
    scored = str(tmp_path / "scored")
    spark.createDataFrame(
        [(i, (i % 10) / 10.0, ("tok " * 10).strip()) for i in range(200)],
        "doc_id bigint, score double, text string",
    ).write.parquet(scored)
    out2 = str(tmp_path / "budget")
    r = _run(capsys, [
        "budget", "--input", scored, "--output", out2, "--budget", "505",
        "--shuffle-partitions", "8",
    ])
    # 10 whitespace tokens per doc; straddler rule caps at budget + <1 doc
    assert r["docs"] == 51 and r["tokens"] == 510


def test_cli_bm25_index_then_search(tmp_path, capsys, spark):
    idx = str(tmp_path / "idx")
    r = _run(capsys, [
        "bm25index", "--input", f"{SF}/documents.parquet", "--output", idx,
        "--shuffle-partitions", "8",
    ])
    assert r["n_docs"] == 500 and r["postings"] > r["terms"] > 0
    out = str(tmp_path / "hits")
    r = _run(capsys, [
        "bm25search", "--index", idx, "--query", "the data", "--k", "5",
        "--output", out, "--shuffle-partitions", "8",
    ])
    assert 0 < r["hits"] <= 5 and len(r["top"]) >= 1
    assert r["top"][0]["score"] >= r["top"][-1]["score"]


def test_cli_sketch_hll_and_cms(tmp_path, capsys, spark):
    """HLL: per-shard build + --merge-with ≡ one build over the union
    (the estimate is a pure function of the register table).  CMS:
    counters land, point queries answer, --query of an absent value is
    exactly 0."""
    h1 = str(tmp_path / "hll1")
    r = _run(capsys, [
        "sketch", "--input", f"{SF}/documents.parquet", "--output", h1,
        "--kind", "hll", "--shuffle-partitions", "8",
    ])
    # 500 distinct texts; p=12 linear-counting regime is near-exact
    assert r["estimate"] == pytest.approx(500, rel=0.05)
    h2 = str(tmp_path / "hll2")
    r2 = _run(capsys, [
        "sketch", "--input", f"{SF}/documents.parquet", "--output", h2,
        "--kind", "hll", "--merge-with", h1, "--shuffle-partitions", "8",
    ])
    # merging the SAME shard changes nothing (idempotent registers)
    assert r2["estimate"] == r["estimate"]
    with pytest.raises(SystemExit):
        _run(capsys, [
            "sketch", "--input", f"{SF}/documents.parquet", "--output", h1,
            "--kind", "hll", "--merge-with", h1,
        ])

    c1 = str(tmp_path / "cms1")
    r = _run(capsys, [
        "sketch", "--input", f"{SF}/documents.parquet", "--output", c1,
        "--kind", "cms", "--col", "lang", "--width", "1024",
        "--query", "en", "definitely-absent", "--shuffle-partitions", "8",
    ])
    n_en = spark.read.parquet(f"{SF}/documents.parquet").filter(
        "lang = 'en'"
    ).count()
    assert r["est"]["en"] >= n_en  # CMS never underestimates
    assert r["est"]["definitely-absent"] == 0


def test_cli_robots(tmp_path, capsys, spark):
    robots = str(tmp_path / "robots")
    spark.createDataFrame(
        [("a.example",
          "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
          "Sitemap: https://a.example/s.xml\n")],
        "host string, body string",
    ).write.parquet(robots)
    urls = str(tmp_path / "urls")
    spark.createDataFrame(
        [(1, "https://a.example/public"),
         (2, "https://a.example/private/doc"),
         (3, "https://a.example/private/ok/x"),
         (4, "https://other.example/anything")],
        "doc_id bigint, url string",
    ).write.parquet(urls)
    out = str(tmp_path / "gated")
    r = _run(capsys, [
        "robots", "--input", urls, "--robots", robots, "--output", out,
        "--agent", "anybot", "--shuffle-partitions", "8",
    ])
    assert r == {"urls": 4, "allowed": 3, "blocked": 1,
                 "rules": 2, "agent": "anybot"}
    kept = {row["doc_id"] for row in spark.read.parquet(out + "/allowed").collect()}
    assert kept == {1, 3, 4}
    maps = spark.read.parquet(out + "/sitemaps").collect()
    assert [tuple(m) for m in maps] == [("a.example", "https://a.example/s.xml")]
    # flag mode keeps every row with the verdict column
    r = _run(capsys, [
        "robots", "--input", urls, "--robots", robots, "--output", out,
        "--agent", "anybot", "--mode", "flag", "--shuffle-partitions", "8",
    ])
    assert r["allowed"] == 3 and r["urls"] == 4
    flagged = spark.read.parquet(out + "/flagged")
    assert flagged.count() == 4 and "allowed" in flagged.columns


def test_cli_topk(tmp_path, capsys, spark):
    scores = str(tmp_path / "scores")
    spark.createDataFrame(
        [(i, float(i % 50)) for i in range(200)], "doc_id bigint, score double"
    ).write.parquet(scores)
    out = str(tmp_path / "topk")
    r = _run(capsys, [
        "topk", "--input", scores, "--output", out, "--k", "8",
        "--shuffle-partitions", "8",
    ])
    # scores 46..49 appear 4x each -> top 8 are the 46+ rows
    assert r == {"rows": 8, "min_score": 48.0}
    back = spark.read.parquet(out)
    assert back.filter("score < 48").count() == 0
    r = _run(capsys, [
        "topk", "--input", scores, "--output", out, "--fraction", "0.1",
        "--shuffle-partitions", "8",
    ])
    assert r["rows"] == 20
    with pytest.raises(SystemExit):
        _run(capsys, ["topk", "--input", scores, "--output", out])


def test_cli_snapdiff(tmp_path, capsys, spark):
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id bigint, text string"
    ).write.parquet(old)
    spark.createDataFrame(
        [(2, "beta"), (3, "GAMMA"), (4, "delta")], "doc_id bigint, text string"
    ).write.parquet(new)
    out = str(tmp_path / "cdc")
    r = _run(capsys, [
        "snapdiff", "--input", new, "--old", old, "--output", out,
        "--shuffle-partitions", "8",
    ])
    assert r == {"added": 1, "removed": 1, "changed": 1, "reprocess": 2}
    rp = {row["doc_id"] for row in spark.read.parquet(out + "/reprocess").collect()}
    assert rp == {3, 4}


def test_cli_pq(tmp_path, capsys, spark):
    out = str(tmp_path / "pq")
    r = _run(capsys, [
        "pq", "--input", f"{SF}/embeddings.parquet", "--output", out,
        "--m", "4", "--ksub", "8", "--iters", "0",
        "--query-id", "0", "--k", "5", "--rerank", "50",
        "--shuffle-partitions", "8",
    ])
    assert r["rows"] == 500 and r["m"] == 4 and r["ksub"] == 8
    # with exact rerank the query vector is its own nearest neighbor
    assert r["neighbors"][0] == 0 and len(r["neighbors"]) == 5
    book = spark.read.parquet(out + "/codebook")
    assert book.count() == 4 * 8
    codes = spark.read.parquet(out + "/codes")
    assert codes.count() == 500 and len(codes.head()["codes"]) == 4


def test_cli_heavyhitters(tmp_path, capsys, spark):
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"unique{i} filler{i} all rights reserved") for i in range(60)],
        "doc_id bigint, text string",
    ).write.parquet(docs)
    out = str(tmp_path / "hh")
    r = _run(capsys, [
        "heavyhitters", "--input", docs, "--output", out,
        "--min-count", "50", "--n", "2", "--shuffle-partitions", "8",
    ])
    assert r["grams"] == 2  # 'all rights' + 'rights reserved', 60x each
    assert r["top"] == [["all rights", 60], ["rights reserved", 60]]


def test_cli_ivfpq(tmp_path, capsys, spark):
    out = str(tmp_path / "ivfpq")
    r = _run(capsys, [
        "pq", "--input", f"{SF}/embeddings.parquet", "--output", out,
        "--nlist", "8", "--m", "4", "--ksub", "8", "--iters", "0",
        "--query-id", "0", "--k", "5", "--nprobe", "8", "--rerank", "50",
        "--shuffle-partitions", "8",
    ])
    assert r["rows"] == 500 and r["nlist"] == 8
    assert r["neighbors"][0] == 0  # full probe + rerank: self is nearest
    codes = spark.read.parquet(out + "/codes")
    assert set(codes.columns) == {"vec_id", "list_id", "codes"}
    assert spark.read.parquet(out + "/coarse").count() == 8


def test_cli_zorder(tmp_path, capsys, spark):
    src = str(tmp_path / "zsrc")
    out = str(tmp_path / "zout")
    spark.createDataFrame(
        [(i, i % 50, (i * 7) % 50) for i in range(2000)],
        "doc_id long, x long, y long",
    ).repartition(8).write.parquet(src)
    r = _run(capsys, [
        "zorder", "--input", src, "--output", out, "--cols", "x,y",
        "--files", "4", "--shuffle-partitions", "8",
    ])
    assert r["cols"] == ["x", "y"] and r["files_out"] >= 2
    assert spark.read.parquet(out).count() == 2000


def test_cli_curate_end_to_end(tmp_path, capsys, spark):
    """The composed curation job equals the individually-applied stages
    (stage barriers change nothing but lineage)."""
    from pyspark.sql import functions as SQLF

    from deidcm_spark.operators import dedup, spandedup, textops

    src = str(tmp_path / "curate_src")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    # plant exact duplicates so the dedup stage bites
    docs.unionByName(
        docs.filter("doc_id < 20").selectExpr("doc_id + 100000 as doc_id", "text")
    ).write.parquet(src)
    out = str(tmp_path / "curated")
    r = _run(capsys, [
        "curate", "--input", src, "--output", out,
        "--seq-len", "512", "--shuffle-partitions", "8",
    ])
    assert r["docs_in"] == 520
    assert r["docs_after_gate"] <= 520
    # the 20 planted duplicates that survive the gate must all collapse
    assert r["docs_after_dedup"] <= r["docs_after_gate"] - 1
    assert r["sequences"] > 0 and r["seq_len"] == 512

    # stage equivalence: replay the stages by hand on the same input
    base = spark.read.parquet(src).select("doc_id", "text")
    norm = textops.normalize_text(base)
    gate_keep = textops.quality_gate(norm).filter("keep").select("doc_id")
    kept = norm.join(gate_keep, "doc_id", "left_semi")
    ld = spandedup.line_dedup(kept, hash_impl="fast").select("doc_id", "text")
    winners = dedup.dedup_exact(ld).select(
        SQLF.col("keep_doc_id").alias("doc_id")
    )
    final = ld.join(winners, "doc_id", "left_semi")
    got = {
        (r2["doc_id"], r2["text"])
        for r2 in spark.read.parquet(out + "/deduped").collect()
    }
    want = {(r2["doc_id"], r2["text"]) for r2 in final.collect()}
    assert got == want
    assert r["docs_after_dedup"] == len(want)



def test_cli_curate_with_pii_and_classifier(tmp_path, capsys, spark):
    """The optional PII-scrub and classifier-gate stages compose into the
    curate flow: PII markers land in the normalized output, the
    classifier ledger entry appears, and every downstream stage runs on
    the reduced set."""
    from deidcm_spark.operators.classify import quality_classifier_select
    from deidcm_spark.operators.scrub import scrub_pii
    from deidcm_spark.operators import textops

    src = str(tmp_path / "cur_src")
    pos = str(tmp_path / "cur_pos")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    # plant a PII doc that also passes the quality gate (long enough)
    pii_doc = spark.createDataFrame(
        [(900_001,
          "contact us at 212.555.0173 or pay 4111 1111 1111 1111 today. "
          + "this sentence keeps the document long enough to pass the "
          + "gopher gates. " * 5)],
        "doc_id long, text string",
    )
    docs.unionByName(pii_doc).write.parquet(src)
    docs.filter("doc_id % 7 = 0").write.parquet(pos)
    out = str(tmp_path / "cur_out")
    r = _run(capsys, [
        "curate", "--input", src, "--output", out, "--seq-len", "512",
        "--pii", "--classifier-positive", pos, "--shuffle-partitions", "8",
    ])
    assert r["docs_in"] == 501
    assert "docs_after_classifier" in r
    assert r["docs_after_classifier"] <= r["docs_after_gate"]
    assert r["docs_after_dedup"] <= r["docs_after_classifier"]
    norm_back = spark.read.parquet(out + "/normalized")
    planted = norm_back.filter("doc_id = 900001").first()["text"]
    assert "[PHONE]" in planted and "[CARD]" in planted

    # classifier-stage equivalence: the kept set is exactly the Pareto
    # selection over the gated survivors (raw-as-negative)
    base = spark.read.parquet(src).select("doc_id", "text")
    norm = scrub_pii(textops.normalize_text(base))
    gate_keep = textops.quality_gate(norm).filter("keep").select("doc_id")
    kept = norm.join(gate_keep, "doc_id", "left_semi")
    chosen = quality_classifier_select(
        kept, spark.read.parquet(pos).select("doc_id", "text"), norm,
        hash_impl="fast",
    ).select("doc_id")
    want = {r2["doc_id"] for r2 in kept.join(chosen, "doc_id", "left_semi").collect()}
    got = {
        r2["doc_id"]
        for r2 in spark.read.parquet(out + "/classified").collect()
    }
    assert got == want
