"""Link graph + host PageRank: edges checked against hand expectations,
ranks checked against a full pure-Python power-iteration oracle of the
shared spec (dangling redistribution included)."""

import os

import pytest

from deidcm_spark.operators.linkgraph import extract_links, host_rank


# ---------- pure-Python oracle ----------

def oracle_rank(edges: set[tuple[str, str]], d: float = 0.85, iters: int = 10):
    nodes = sorted({h for e in edges for h in e})
    n = len(nodes)
    out = {h: sorted({b for a, b in edges if a == h}) for h in nodes}
    rank = {h: 1.0 / n for h in nodes}
    for _ in range(iters):
        dangling = sum(rank[h] for h in nodes if not out[h])
        contrib = {h: 0.0 for h in nodes}
        for a in nodes:
            for b in out[a]:
                contrib[b] += rank[a] / len(out[a])
        rank = {
            h: (1 - d) / n + d * (contrib[h] + dangling / n) for h in nodes
        }
    return rank


GRAPH = {
    ("a.example", "b.example"),
    ("a.example", "c.example"),
    ("b.example", "c.example"),
    ("c.example", "a.example"),
    ("d.example", "c.example"),
    # e.example is dangling (appears only as a destination)
    ("a.example", "e.example"),
}


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(
        sorted(GRAPH), "src_host string, dst_host string"
    )


def test_host_rank_matches_oracle(spark, edge_df):
    got = {r.host: r.rank for r in host_rank(edge_df, iterations=10).collect()}
    want = oracle_rank(GRAPH, iters=10)
    assert set(got) == set(want)
    for h in want:
        assert got[h] == pytest.approx(want[h], abs=1e-12), h
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_host_rank_hub_ordering_and_duplicates(spark, edge_df):
    # duplicate edge rows must not change the structural rank
    doubled = edge_df.unionByName(edge_df)
    got = {r.host: r.rank for r in host_rank(doubled, iterations=10).collect()}
    base = {r.host: r.rank for r in host_rank(edge_df, iterations=10).collect()}
    assert got == pytest.approx(base)
    # the top host agrees with the oracle (c funnels all its mass into a,
    # so a — not the in-degree-3 c — ends on top; in-degree alone is not
    # the ordering, which is exactly why the power iteration is run)
    want = oracle_rank(GRAPH, iters=10)
    assert max(got, key=got.get) == max(want, key=want.get) == "a.example"


def test_host_rank_checkpoint_dir_path(spark, edge_df, tmp_path):
    got = {
        r.host: r.rank
        for r in host_rank(
            edge_df, iterations=5, checkpoint_dir=str(tmp_path / "pr")
        ).collect()
    }
    want = oracle_rank(GRAPH, iters=5)
    for h in want:
        assert got[h] == pytest.approx(want[h], abs=1e-12), h


def test_host_rank_validations(spark, edge_df):
    with pytest.raises(ValueError, match="iterations"):
        host_rank(edge_df, iterations=0)
    empty = spark.createDataFrame([], "src_host string, dst_host string")
    assert host_rank(empty, iterations=3).count() == 0


def test_extract_links(spark):
    pages = spark.createDataFrame(
        [
            (
                "https://news.example/a",
                '<a href="https://other.example/x">x</a> '
                '<a href="/relative/path">rel</a> '
                "<a href='http://other.example/y'>y</a> "
                '<a href="https://news.example/self">self</a> '
                '<a href="ftp://files.example/z">ftp</a>',
            ),
            ("https://news.example/b", '<a href="https://third.example/">t</a>'),
            ("https://solo.example/c", "no links here"),
        ],
        "url string, html string",
    )
    got = {
        (r.src_host, r.dst_host): r.n_links
        for r in extract_links(pages).collect()
    }
    # relative, self-host, and non-http(s) targets all excluded;
    # the two other.example links collapse into one weighted edge
    assert got == {
        ("news.example", "other.example"): 2,
        ("news.example", "third.example"): 1,
    }


def test_extract_links_from_warc_lane(spark, tmp_path):
    """End-to-end: WARC shard → records → host edges → ranks."""
    from deidcm_spark.warc import encode_warc, read_warc_documents

    def http(body):
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + body.encode())

    recs = []
    for i in range(6):
        body = (f'<html><a href="https://hub.example/{i}">hub</a>'
                f'<a href="https://peer{i % 2}.example/">p</a></html>')
        recs.append({
            "type": "response", "record_id": f"<urn:uuid:{i}>",
            "date": "2024-01-01T00:00:00Z",
            "uri": f"https://site{i}.example/page",
            "content_type": "application/http; msgtype=response",
            "payload": http(body),
        })
    d = tmp_path / "w"
    d.mkdir()
    (d / "s.warc").write_bytes(encode_warc(recs))
    warc = read_warc_documents(spark, str(d))
    edges = extract_links(warc)
    ranks = {r.host: r.rank for r in host_rank(edges, iterations=5).collect()}
    # every site links to hub.example → it dominates
    assert max(ranks, key=ranks.get) == "hub.example"
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def test_cli_hostrank(tmp_path, capsys, spark):
    import json as _json

    from deidcm_spark.__main__ import main as _main
    from deidcm_spark.warc import encode_warc

    def http(body):
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + body.encode())

    recs = [{
        "type": "response", "record_id": f"<urn:uuid:{i}>",
        "date": "2024-01-01T00:00:00Z",
        "uri": f"https://site{i}.example/",
        "content_type": "application/http; msgtype=response",
        "payload": http(f'<a href="https://hub.example/{i}">h</a>'),
    } for i in range(4)]
    wdir = tmp_path / "w"
    wdir.mkdir()
    (wdir / "s.warc").write_bytes(encode_warc(recs))
    warc_out = str(tmp_path / "warc_out")
    _main(["warc", "--input", str(wdir), "--output", warc_out,
           "--shuffle-partitions", "4"])
    capsys.readouterr()
    rank_out = str(tmp_path / "rank_out")
    sc = spark.sparkContext
    sc.setJobGroup("cli_hostrank", "cli hostrank")
    try:
        _main(["hostrank", "--input", warc_out + "/records", "--output",
               rank_out, "--iterations", "5", "--shuffle-partitions", "4"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    r = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r == {"edges": 4, "hosts": 5, "top_host": "hub.example"}
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cli_hostrank"))
    assert n_jobs <= 30, f"hostrank: {n_jobs} Spark jobs, pinned at 30"
    # the PageRank round checkpoints are gone once ranks is written
    assert sorted(os.listdir(rank_out)) == ["edges", "ranks"]


def test_anchor_texts(spark):
    from deidcm_spark.operators.linkgraph import anchor_texts

    pages = spark.createDataFrame(
        [
            (
                "https://news.example/a",
                '<a href="https://other.example/x">Great Article</a> '
                '<a href="https://other.example/y"></a> '          # empty text
                '<a href="/rel">relative</a> '                     # relative
                "<a class='b' href='https://third.example/z'>  padded  </a>",
            ),
        ],
        "url string, html string",
    )
    got = {
        (r.src_host, r.dst_host, r.target, r.anchor)
        for r in anchor_texts(pages).collect()
    }
    assert got == {
        ("news.example", "other.example", "https://other.example/x", "Great Article"),
        ("news.example", "third.example", "https://third.example/z", "padded"),
    }
