"""Golden parity on the reference's OWN fixture site: run the dynamic
modeler over /root/reference/testsite/minimal (the exact HTML the Java
reference's DynamicModelerTest/StaticModelerTest exercise at
localhost:8081) and check the inferred model against the expectations
those tests and golden/localhost:8081.csv encode."""

import re
from pathlib import Path

import pytest

from smart_crawler_spark.modeler.dynamic import CorpusFetcher, DynamicModeler

SITE_DIR = Path("/root/reference/testsite/minimal/site")
GOLDEN = Path("/root/reference/src/main/resources/golden/localhost:8081.csv")
TESTSITE = SITE_DIR.parent.parent
RESOURCES = GOLDEN.parent.parent
BASE = "http://localhost:8081"


def _need(*paths):
    """Skip a test unless every reference fixture path it reads exists
    (the fixture lives in the Java reference checkout, not this repo)."""
    missing = [str(p) for p in paths if not p.exists()]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference fixture missing: {missing}"
    )


_need_inferred = _need(SITE_DIR, GOLDEN)


def _rows(site_dir=SITE_DIR, base=BASE):
    rows = []
    for f in sorted(Path(site_dir).rglob("*.html")):
        html = f.read_text()
        title = re.search(r"<title>(.*?)</title>", html, re.S)
        rel = str(f.relative_to(site_dir))
        url = base if rel == "index.html" else f"{base}/{rel}"
        rows.append(
            {"url": url, "title": title.group(1).strip() if title else rel,
             "html": html}
        )
    return rows


def _infer(site_dir, base, model_pages):
    fetcher = CorpusFetcher(
        _rows(site_dir, base), html_of=lambda r: r["html"]
    )
    dm = DynamicModeler(fetcher, base, model_pages=model_pages)
    model = dm.run()
    return dm, model


@pytest.fixture(scope="module")
def inferred():
    # DynamicModelerTest.java:43 config: modelPages=10
    return _infer(SITE_DIR, BASE, 10)


@_need_inferred
def test_home_menu_matches_reference_expectations(inferred):
    """StaticModelerTest.java:113-118 pins href-predicated menu items
    for the four home-menu destinations; DynamicModelerTest pins the
    menu base xpath //ul[@id="menu"]/li/a."""
    _dm, model = inferred
    home_edges = [e for e in model.class_links if e["src_class"] == model.root]
    menu_xps = {e["xpath"] for e in home_edges if e["link_type"] == "menu"}
    base_xp = '//ul[@id="menu"]/li/a'
    for href in ("/directory1.html", "/directory2.html", "/table.html",
                 "/about.html"):
        assert f'{base_xp}[@href="{href}"]' in menu_xps, menu_xps


@_need_inferred
def test_directory_list_and_next_selflink(inferred):
    """DynamicModelerTest.java:49-58: the directory class reaches the
    detail class via a list xpath and ITSELF via //a[@id="page"]."""
    _dm, model = inferred
    next_edges = [e for e in model.class_links if e["xpath"] == '//a[@id="page"]']
    assert next_edges and all(
        e["src_class"] == e["dst_class"] for e in next_edges
    )
    dir_class = next_edges[0]["src_class"]
    list_edges = [
        e
        for e in model.class_links
        if e["src_class"] == dir_class and e["link_type"] == "list"
    ]
    assert list_edges  # directory -> detail list link
    # detail pages carry the two BACK menu links (golden: detail -> dir1, dir2)
    detail_cls = list_edges[0]["dst_class"]
    back = [
        e
        for e in model.class_links
        if e["src_class"] == detail_cls and e["link_type"] == "menu"
    ]
    assert len(back) >= 2


@_need_inferred
def test_depths_match_reference(inferred):
    """Home depth 0; directories depth 1; details depth 2
    (DynamicModelerTest.java:53-56 / StaticModelerTest hierarchy)."""
    _dm, model = inferred
    assert model.depths[model.root] == 0
    next_edges = [e for e in model.class_links if e["xpath"] == '//a[@id="page"]']
    assert model.depths[next_edges[0]["src_class"]] == 1
    assert max(model.depths.values()) == 2


@_need(SITE_DIR, RESOURCES / "targets/localhost_target.csv")
def test_engine_crawls_fixture_with_reference_target(spark, tmp_path):
    """Entry C end-to-end on REAL artifacts: the engine crawls the
    minimal fixture site under the reference's own hand-written
    targets/localhost_target.csv, and the per-host order, URL-seen set
    and extracted records all match the pure-Python reference-semantics
    oracle exactly."""
    from pyspark.sql import functions as F

    from smart_crawler_spark.crawler.engine import CrawlEngine, EngineConfig
    from smart_crawler_spark.crawler.oracle import crawl_all, seen_key
    from smart_crawler_spark.sources.htmlsite import (
        corpus_rows_from_html,
        site_pages_from_html,
    )
    from smart_crawler_spark.sources.targets import load_target_file

    model = load_target_file(
        "/root/reference/src/main/resources/targets/localhost_target.csv"
    )
    pages = _rows()
    corpus = corpus_rows_from_html(pages, model)
    seed = BASE

    oracle = crawl_all(corpus, model, [seed])
    res = CrawlEngine(
        spark,
        site_pages_from_html(spark, pages, model),
        model,
        str(tmp_path / "w"),
        EngineConfig(budget_per_host=1),
    ).run([seed])

    o = next(iter(oracle.values()))
    got_order = [
        (r["seq"], r["url"])
        for r in res.order.orderBy("host", "seq").collect()
    ]
    want_order = [(e["seq"], e["url"]) for e in o.order]
    assert got_order == want_order  # exact best-first dequeue order
    got_seen = {r["url_hash"] for r in res.seen.collect()}
    want_keys = sorted(o.seen)
    want_seen = {
        r["h"]
        for r in spark.createDataFrame([(k,) for k in want_keys], "k string")
        .select(F.xxhash64("k").alias("h"))
        .collect()
    }
    assert got_seen == want_seen
    got_recs = {
        (r["url"], tuple(r["fields"])) for r in res.records.collect()
    }
    want_recs = {(r["url"], tuple(r["fields"])) for r in o.records}
    assert got_recs == want_recs
    # golden data values from the real pages (CrawlRepositoryTest-style)
    detail1 = next(
        r for r in o.records if r["url"].endswith("/detail1.html")
    )
    assert detail1["fields"] == ["Detail page 1"]
    assert len([r for r in o.records if "detail" in r["url"]]) == 4


@_need_inferred
def test_inferred_model_drives_fixture_crawl(spark, inferred, tmp_path):
    """Close the loop on real artifacts: the model INFERRED from the
    fixture HTML (href-predicated fixed menus) drives an engine crawl of
    the same HTML, matching the oracle under that model — every page the
    model reaches is fetched exactly once."""
    from smart_crawler_spark.crawler.engine import CrawlEngine, EngineConfig
    from smart_crawler_spark.crawler.oracle import crawl_all
    from smart_crawler_spark.sources.htmlsite import (
        corpus_rows_from_html,
        site_pages_from_html,
    )

    _dm, model = inferred
    pages = _rows()
    corpus = corpus_rows_from_html(pages, model)
    oracle = next(iter(crawl_all(corpus, model, [BASE]).values()))
    res = CrawlEngine(
        spark,
        site_pages_from_html(spark, pages, model),
        model,
        str(tmp_path / "w2"),
        EngineConfig(budget_per_host=1),
    ).run([BASE])
    got = [(r["seq"], r["url"]) for r in res.order.orderBy("seq").collect()]
    want = [(e["seq"], e["url"]) for e in oracle.order]
    assert got == want
    # the inferred model covers the whole 10-page site
    assert len([e for e in oracle.order if e["fetched"]]) == 10


@_need_inferred
def test_golden_fmeasure(spark, inferred):
    """C12 against the reference's own golden class definitions
    (golden/localhost:8081.csv regex patterns)."""
    import pandas as pd

    from smart_crawler_spark.modeler.evaluate import evaluate_model

    dm, _model = inferred
    assigned = []
    for cid, (_st, pages) in enumerate(dm.final_clusters):
        for p in pages:
            assigned.append({"url": p.url, "cluster_id": cid})
    golden_rows = []
    for line in GOLDEN.read_text().splitlines():
        parts = line.split("\t")
        if len(parts) == 2:  # class definitions; 3-col rows are links
            golden_rows.append({"class": parts[0], "url_pattern": parts[1]})
    assert len(golden_rows) == 6
    rep = evaluate_model(
        spark.createDataFrame(pd.DataFrame(assigned)),
        spark.createDataFrame(pd.DataFrame(golden_rows)),
    )
    # the inferred clustering reproduces the golden classes EXACTLY
    # (6 clusters incl. the dir1+dir1next merge the reference's own
    # saved model shows): perfect scores, deterministic
    assert rep.fmeasure == 1.0, (rep.fmeasure, rep.per_class)
    assert rep.purity == 1.0 and rep.cohesion == 0.0


@_need(SITE_DIR)
def test_datatype_extraction_reference_values():
    """Ports the reference DataType tests against the real fixture HTML:
    StringDataTypeTest.java:28-33 ('Detail page 1' from //h1/text() on
    detail1.html), UrlDataTypeTest.java:27-32 (raw external href from
    the homepage), ImgDataTypeTest.java:26-31 (img src basename
    'fake.jpg')."""
    from smart_crawler_spark.modeler.schema import extract_record

    detail_html = (SITE_DIR / "detail1.html").read_text()
    index_html = (SITE_DIR / "index.html").read_text()
    rec = extract_record(
        detail_html, [{"xpath": "//h1/text()", "dtype": "string"}]
    )
    assert rec == ["Detail page 1"]
    rec = extract_record(
        index_html,
        [
            {"xpath": "//div[@id='link']/a", "dtype": "url"},
            {"xpath": "//img[@alt='logo']", "dtype": "img"},
        ],
    )
    assert rec == ["http://www.external-link.test", "fake.jpg"]
    # not-found -> empty cell (the reference writes empty CSV fields)
    assert extract_record(
        detail_html, [{"xpath": "//h4/text()", "dtype": "string"}]
    ) == [""]


@_need(TESTSITE / "mutable_menu/site")
def test_mutable_menu_fixture_positional_items():
    """testsite/mutable_menu: res1/res2 share one class whose div#menu
    carries DISJOINT link sets per page — the canonical mutable menu.
    Inference must type it mutable with positional (xp)[1..3] items
    (Menu.setType + MenuItem.useIndexes on real reference HTML)."""
    dm, model = _infer(
        "/root/reference/testsite/mutable_menu/site",
        "http://localhost:8083",
        10,
    )
    menu_edges = [e for e in model.class_links if e["link_type"] == "menu"]
    assert menu_edges and all(e["menu_type"] == "mutable" for e in menu_edges)
    base_xp = '//div[@id="menu"]/ul/li/a'
    assert {e["xpath"] for e in menu_edges} == {
        f"({base_xp})[{i}]" for i in (1, 2, 3)
    }
    # res1+res2 clustered together; the home list link reaches them
    res_cluster = {e["src_class"] for e in menu_edges}
    assert len(res_cluster) == 1
    home_lists = [
        e
        for e in model.class_links
        if e["src_class"] == model.root and e["dst_class"] in res_cluster
    ]
    assert home_lists and home_lists[0]["xpath"] == '//ul[@id="list"]/li/a'


@_need(
    TESTSITE / "finer_xpaths/site",
    RESOURCES / "golden/localhost:8082.csv",
)
def test_finer_xpaths_fixture_golden(spark):
    """testsite/finer_xpaths (golden/localhost:8082.csv): two link
    collections inside the same container differ only by anchor
    attributes (pagenum vs property links) — the inferred model must
    keep them apart (a[@class] vs a[@title and @class]) and reproduce
    the golden classes exactly."""
    import pandas as pd

    from smart_crawler_spark.modeler.evaluate import evaluate_model

    dm, model = _infer(
        "/root/reference/testsite/finer_xpaths/site",
        "http://localhost:8082",
        21,  # the reference's commented-out testXPath_finer config
    )
    xps = {e["xpath"] for e in model.class_links}
    assert '//div[@id="page"]/div[@class]/div[@class]/a[@class]' in xps
    assert '//div[@id="page"]/div[@class]/div[@class]/a[@title and @class]' in xps
    assigned = [
        {"url": p.url, "cluster_id": cid}
        for cid, (_st, pages) in enumerate(dm.final_clusters)
        for p in pages
    ]
    golden_rows = [
        {"class": a, "url_pattern": b}
        for a, b in (
            line.split("\t")
            for line in Path(
                "/root/reference/src/main/resources/golden/localhost:8082.csv"
            )
            .read_text()
            .splitlines()
            if len(line.split("\t")) == 2
        )
    ]
    rep = evaluate_model(
        spark.createDataFrame(pd.DataFrame(assigned)),
        spark.createDataFrame(pd.DataFrame(golden_rows)),
    )
    assert rep.fmeasure == 1.0, (rep.fmeasure, rep.per_class)
    assert rep.purity == 1.0