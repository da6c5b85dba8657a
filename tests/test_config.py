"""HOCON-subset run-config loader (reference master.conf dialect,
CrawlerSettings.java:57-88). No Spark needed."""

from pathlib import Path

import pytest

from smart_crawler_spark.sources.config import (
    CrawlerSettings,
    load_settings,
    parse_hocon,
)

REFERENCE_MASTER_CONF = Path(
    "/root/reference/src/main/resources/master.conf"
)


def _reference_master_conf() -> str:
    """The Java reference's shipped master.conf, read verbatim; skips the
    calling test where that checkout is not present."""
    if not REFERENCE_MASTER_CONF.is_file():
        pytest.skip(f"reference master.conf not found: {REFERENCE_MASTER_CONF}")
    return REFERENCE_MASTER_CONF.read_text()


MULTI_SITE = """
include "application"

crawler {
  modeler {
    "http://site-a.example.com" {
      static.file = "site_a_target.csv"
      wait = 500
      randompause = 0
      crawl = true
    }
    "http://site-b.example.com" {
      dynamic.pages = 25
      golden = "site_b_golden.csv"
      maxfailures = 3
      javascript = true
    }
  }
  crawling {
    fetchers = 4
    pages = 5000       // global budget
    frontierheap = 128
    recrawl-rounds = 6
    max-rounds = 40
    trap-filter = true
    template-budget = 9
  }
}
"""


def test_parse_reference_master_conf_verbatim():
    s = load_settings(_reference_master_conf())
    # all sites are commented out in the shipped file; the crawling
    # scalars are live (master.conf:43-45)
    assert s.seeds == []
    assert (s.fetchers, s.pages, s.frontierheap) == (1, 1_000_000, 10_000)


def test_multi_site_settings_and_defaults():
    s = load_settings(MULTI_SITE)
    assert (s.fetchers, s.pages, s.frontierheap) == (4, 5000, 128)
    by_site = {c.site: c for c in s.seeds}
    a = by_site["http://site-a.example.com"]
    assert a.file == "site_a_target.csv" and a.crawl is True
    assert (a.wait, a.randompause) == (500, 0)
    assert a.model_pages == 0 and a.maxfailures == 1  # defaults kept
    b = by_site["http://site-b.example.com"]
    assert b.model_pages == 25 and b.golden == "site_b_golden.csv"
    assert b.maxfailures == 3 and b.javascript is True
    assert (b.wait, b.randompause) == (2000, 1000)  # reference defaults
    assert b.crawl is False


def test_engine_config_mapping():
    s = load_settings(MULTI_SITE)
    a = next(c for c in s.seeds if c.site.endswith("site-a.example.com"))
    cfg = a.engine_config(s, budget_per_host=7)
    assert cfg.max_tries == 1 and cfg.wait_ms == 500
    assert cfg.random_pause_ms == 0 and cfg.budget_per_host == 7
    # recrawl knobs (Spark-side extension) ride the crawling block
    assert cfg.recrawl_after_rounds == 6 and cfg.max_rounds == 40
    # frontier-hygiene knobs (Spark-side extension) ride it too
    assert cfg.trap_filter is True and cfg.template_budget == 9
    # absent knobs leave recrawl off
    ref = load_settings(_reference_master_conf())
    assert ref.recrawl_rounds == 0 and ref.max_rounds == 1 << 30


def test_parser_nesting_and_comments():
    flat = parse_hocon(
        "\n".join(
            [
                "a {",
                "  b.c {",
                "    d = 1   // trailing comment",
                "  }",
                '  e = "x // not a comment"',
                "}",
                "f = on  # tail",
            ]
        )
    )
    assert flat["a.b.c.d"] == 1
    assert flat["a.e"] == "x // not a comment"
    assert flat["f"] is True


def test_parser_rejects_unbalanced():
    with pytest.raises(ValueError):
        parse_hocon("}")


def test_engine_config_pages_budget_per_site():
    """crawling.pages bounds each SITE's frontier (the reference builds
    one CrawlFrontier per seed with set.pages, CrawlController.java:
    74-77; pageCount counts dispatches, CrawlFrontier.java:132-139,
    148-155) — so it maps to the per-host cap, not a cross-site total."""
    s = load_settings(MULTI_SITE)
    a = next(c for c in s.seeds if c.site.endswith("site-a.example.com"))
    assert a.engine_config(s).max_pages_per_host == 5000
    assert a.engine_config(s).max_pages_total == 1 << 30
    # an explicit override still wins over the config value
    assert a.engine_config(s, max_pages_per_host=9).max_pages_per_host == 9
    # no settings → unbounded default
    assert a.engine_config().max_pages_per_host == 1 << 30


def test_unknown_modeler_suffix_rejected():
    """A key under crawler.modeler with an unrecognized setting suffix
    is a config error — not a licence to invent a truncated seed."""
    bad = "\n".join(
        [
            "crawler {",
            "  modeler {",
            '    "http://a.example.com" {',
            "      foo = 1",
            "    }",
            "  }",
            "}",
        ]
    )
    with pytest.raises(ValueError, match="crawler.modeler"):
        load_settings(bad)
