"""File-driven run configuration — the reference's HOCON ``master.conf``
dialect (``settings/CrawlerSettings.java:57-88``; format documented in
``master.conf:5-35``).

A minimal HOCON-subset parser (nested ``key { }`` blocks, ``key = value``
assignments, dotted and quoted keys, ``//``/``#`` comments, ``include``
lines ignored) feeds ``CrawlerSettings``: one ``SeedConfig`` per site
under ``crawler.modeler`` with the reference's defaults (wait 2000 ms,
randompause 1000 ms, maxfailures 1, crawl false, javascript false), plus
the ``crawler.crawling`` scalars (fetchers, pages, frontierheap). The
akka/nodes sections are parsed but unused — executor topology belongs to
spark-submit, not the config file.

``SeedConfig.engine_config()`` maps a seed onto this engine's
EngineConfig: wait/randompause become the F4 politeness budget,
maxfailures the retry cap, ``pages`` the per-site page budget
(``max_pages_per_host``: the reference builds one ``CrawlFrontier`` per
seed, ``CrawlController.java:74-77``), ``frontierheap`` the oracle's
spill emulation knob (frontier/spill.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_INCLUDE_RE = re.compile(r"^\s*include\b")


def _strip_comment(line: str) -> str:
    out = []
    in_str = False
    i = 0
    while i < len(line):
        c = line[i]
        if c == '"':
            in_str = not in_str
        if not in_str:
            if c == "#" or line[i : i + 2] == "//":
                break
        out.append(c)
        i += 1
    return "".join(out)


def _split_key(key: str) -> list[str]:
    """Dotted path components; quoted segments are single components."""
    key = key.strip()
    if key.startswith('"') and key.endswith('"'):
        return [key[1:-1]]
    return [p for p in key.split(".") if p]


def _parse_value(raw: str):
    v = raw.strip()
    if v.startswith('"') and v.endswith('"'):
        return v[1:-1]
    low = v.lower()
    if low in ("true", "on", "yes"):
        return True
    if low in ("false", "off", "no"):
        return False
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        return v


def parse_hocon(text: str) -> dict[str, object]:
    """Flatten a HOCON-subset document to {dotted.path: value}."""
    flat: dict[str, object] = {}
    stack: list[str] = []
    pushes: list[int] = []  # components pushed per open block
    for raw in text.splitlines():
        line = _strip_comment(raw).strip()
        if not line or _INCLUDE_RE.match(line):
            continue
        if line == "}":
            if not pushes:
                raise ValueError("unbalanced '}'")
            n = pushes.pop()
            del stack[len(stack) - n :]
            continue
        if line.endswith("{"):
            comps = _split_key(line[:-1])
            stack.extend(comps)
            pushes.append(len(comps))
            continue
        if "=" in line or ":" in line:
            sep = "=" if "=" in line else ":"
            key, val = line.split(sep, 1)
            path = stack + _split_key(key)
            flat[".".join(path)] = _parse_value(val)
            continue
        raise ValueError(f"unparseable config line: {raw!r}")
    return flat


@dataclass
class SeedConfig:
    """One site entry under crawler.modeler (CrawlerSettings.SeedConfig)."""

    site: str
    file: str | None = None          # static.file → Entry C static model
    golden: str | None = None        # golden model for C12 evaluation
    model_pages: int = 0             # dynamic.pages → DynamicModeler budget
    javascript: bool = False
    wait: int = 2000                 # ms between fetches (F4)
    randompause: int = 1000          # U[0, randompause) extra ms
    maxfailures: int = 1             # F7 retry cap
    crawl: bool = False
    savepages: bool = False

    def engine_config(self, settings: "CrawlerSettings | None" = None, **overrides):
        from smart_crawler_spark.crawler.engine import EngineConfig

        kw = dict(
            max_tries=self.maxfailures,
            wait_ms=self.wait,
            random_pause_ms=self.randompause,
        )
        if settings is not None and settings.pages:
            # crawling.pages bounds each SITE's frontier: the reference
            # creates one CrawlFrontier per seed with set.pages
            # (CrawlController.java:74-77), counting dispatches — the
            # per-host cap, not a cross-site total. Per-host == per-seed
            # is faithful because a reference frontier is single-host by
            # construction: link extraction drops cross-domain hrefs
            # (HtmlUtils.isValidURL:160-175 via getAbsoluteInternalURLs).
            # Synthetic multi-host graphs (an extension the reference
            # cannot reach) wanting one shared budget across hosts set
            # EngineConfig.max_pages_total instead.
            kw["max_pages_per_host"] = settings.pages
        if settings is not None and settings.recrawl_rounds:
            kw["recrawl_after_rounds"] = settings.recrawl_rounds
            kw["max_rounds"] = settings.max_rounds
        if settings is not None and settings.trap_filter:
            kw["trap_filter"] = True
        if settings is not None and settings.template_budget:
            kw["template_budget"] = settings.template_budget
        kw.update(overrides)
        return EngineConfig(**kw)


@dataclass
class CrawlerSettings:
    seeds: list[SeedConfig] = field(default_factory=list)
    fetchers: int = 1
    pages: int = 1_000_000
    frontierheap: int = 10_000
    # recrawl expiry (Spark-side extension; the reference has no
    # recrawl): crawling.recrawl-rounds > 0 re-enqueues every URL that
    # many rounds after its dispatch, crawling.max-rounds bounds the
    # otherwise-endless run
    recrawl_rounds: int = 0
    # frontier hygiene (Spark-side extensions, off by default):
    # crawling.trap-filter drops crawler-trap URLs at admission;
    # crawling.template-budget hard-caps new URLs per template family
    # per round (frontier/traps.py)
    trap_filter: bool = False
    template_budget: int = 0
    max_rounds: int = 1 << 30


_SEED_SUFFIXES = (
    ".static.file", ".golden", ".dynamic.pages", ".javascript",
    ".wait", ".randompause", ".maxfailures", ".crawl", ".savepages",
)


def load_settings(text: str) -> CrawlerSettings:
    """master.conf text → CrawlerSettings (CrawlerSettings.java:57-88)."""
    flat = parse_hocon(text)
    prefix = "crawler.modeler."
    sites: list[str] = []
    for k in flat:
        if k.startswith(prefix):
            # the site name is whatever precedes a KNOWN per-seed
            # setting suffix (quoted site keys keep dots and :// intact
            # as one component); an unrecognized suffix is a config
            # error, not a licence to guess a seed name from the first
            # dot
            rest = k[len(prefix):]
            for known in _SEED_SUFFIXES:
                if rest.endswith(known):
                    site = rest[: -len(known)]
                    break
            else:
                raise ValueError(
                    f"unknown key under crawler.modeler: {k!r} "
                    "(expected a site followed by one of "
                    + ", ".join(s[1:] for s in _SEED_SUFFIXES) + ")"
                )
            if site and site not in sites:
                sites.append(site)
    seeds = []
    for site in sites:
        def get(suffix, default):
            return flat.get(f"{prefix}{site}.{suffix}", default)

        seeds.append(
            SeedConfig(
                site=site,
                file=get("static.file", None),
                golden=get("golden", None),
                model_pages=int(get("dynamic.pages", 0)),
                javascript=bool(get("javascript", False)),
                wait=int(get("wait", 2000)),
                randompause=int(get("randompause", 1000)),
                maxfailures=int(get("maxfailures", 1)),
                crawl=bool(get("crawl", False)),
                savepages=bool(get("savepages", False)),
            )
        )
    return CrawlerSettings(
        seeds=seeds,
        fetchers=int(flat.get("crawler.crawling.fetchers", 1)),
        pages=int(flat.get("crawler.crawling.pages", 1_000_000)),
        frontierheap=int(flat.get("crawler.crawling.frontierheap", 10_000)),
        recrawl_rounds=int(flat.get("crawler.crawling.recrawl-rounds", 0)),
        max_rounds=int(flat.get("crawler.crawling.max-rounds", 1 << 30)),
        trap_filter=bool(flat.get("crawler.crawling.trap-filter", False)),
        template_budget=int(
            flat.get("crawler.crawling.template-budget", 0)
        ),
    )


def load_settings_file(path: str) -> CrawlerSettings:
    with open(path) as f:
        return load_settings(f.read())
