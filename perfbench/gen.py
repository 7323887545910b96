"""Seeded input generator for the KG benchmark.

Everything the program sees is produced here from one integer seed: the
web-pages corpus, the re-crawl batches and the query mix.  Nothing is read
from outside this directory, and no wall clock or process state enters the
output, so the same seed always gives the same bytes.

Per-page properties that the pipeline's cost depends on are drawn per page,
so one corpus spans them all:

* sections per page (headings, sections, nested subheadings);
* wikilink density, with Zipf-skewed targets over the original pages and a
  share of dangling targets (``missing-*`` names no page ever has);
* html-only pages (``text`` null, a quarter of them), which go through
  ``sources.html_extract``;
* person/organisation mentions from the alias dictionary and OpenIE-style
  subject-verb-object sentences;
* lists, todos, tables, code blocks and blockquotes.

Re-crawl batches edit the bodies of a few existing pages and add a few new
urls.  New pages get ``new-*`` names that no page links to, so adding one
never changes how another page's links resolve: an upsert replaces only
the triples of the pages in its batch, and a fresh build of the final
corpus state must give the same table.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import random

import pyarrow as pa
import pyarrow.parquet as pq

BASE_URL = "https://crawl.example.org/wiki/"
EPOCH = dt.datetime(2024, 11, 7, 12, 0, 0)

PAGE_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.string()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

PEOPLE = ["Ada Lovelace", "Grace Hopper", "Alan Turing", "Edsger Dijkstra",
          "Barbara Liskov", "Donald Knuth", "Margaret Hamilton",
          "John Backus", "Frances Allen", "Tony Hoare", "Leslie Lamport",
          "Radia Perlman"]
ORGS = ["Acme Corp", "Globex Systems", "Initech Labs", "Umbrella Data",
        "Stark Analytics", "Wayne Research", "Tyrell Compute",
        "Cyberdyne Networks"]
# alias -> (entity kind, context words), the operators.mentions format
ALIAS_DICT = {**{p: ("person", ["engineer", "paper", "wrote"]) for p in PEOPLE},
              **{o: ("organization", ["company", "founded", "board"]) for o in ORGS}}
VERBS = ["founded", "acquired", "created", "wrote", "invented", "leads",
         "owns", "uses", "works at", "works for", "is part of",
         "depends on"]
THINGS = ["Query Planner", "Graph Store", "Stream Engine", "Vector Index",
          "Crawl Scheduler", "Token Cache", "Page Ranker", "Link Graph"]
WORDS = ("data graph node edge query index shard batch stream crawl page "
         "link token schema triple store cache merge scan join filter "
         "window bucket partition replica commit snapshot vector sketch "
         "bloom heap tree hash ring queue worker driver plan stage task").split()
LANGS = ["python", "sql", "scala", "bash", ""]


def page_name(i: int) -> str:
    return f"page-{i:05d}"


def page_url(name: str) -> str:
    return f"{BASE_URL}{name}.md"


class _LinkTargets:
    """Zipf-skewed draw over the original pages (rank order is a seeded
    permutation, so the hot pages differ between seeds)."""

    def __init__(self, rng: random.Random, n_pages: int, s: float = 1.1):
        self.order = list(range(n_pages))
        rng.shuffle(self.order)
        self.cum = list(itertools.accumulate(1.0 / (k + 1) ** s
                                             for k in range(n_pages)))

    def draw(self, rng: random.Random) -> int:
        x = rng.random() * self.cum[-1]
        return self.order[min(bisect.bisect_left(self.cum, x),
                              len(self.order) - 1)]


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _sentence(rng: random.Random) -> str:
    return _words(rng, 5, 12).capitalize() + "."


# Per-page property levels.  Every corpus of n pages draws each property
# from the same multiset (levels cycled to n, then shuffled by the seed), so
# corpora of different seeds differ in content but not in how much work
# they hold.
SECTIONS = [1, 2, 3, 3, 4, 4, 5, 6, 8]
LINK_RATES = [0.0, 0.3, 0.6, 1.0, 1.5, 2.5]
DANGLING_SHARES = [0.0, 0.1, 0.2, 0.4]
MENTION_RATES = [0.0, 0.3, 0.8]
SVO_RATES = [0.0, 0.3, 0.7]
HTML_SHARE = 0.25


def _profiles(rng: random.Random, n: int) -> list[dict]:
    def levels(values):
        out = [values[i % len(values)] for i in range(n)]
        rng.shuffle(out)
        return out

    n_html = round(n * HTML_SHARE)
    html = levels([True] * n_html + [False] * (n - n_html)) if n else []
    cols = {"sections": levels(SECTIONS), "link_rate": levels(LINK_RATES),
            "dangling_share": levels(DANGLING_SHARES),
            "mention_rate": levels(MENTION_RATES), "svo_rate": levels(SVO_RATES),
            "html": html}
    return [{k: v[i] for k, v in cols.items()} for i in range(n)]


class _PageWriter:
    """Draws one page body with the given per-page profile."""

    def __init__(self, rng: random.Random, targets: _LinkTargets, profile: dict):
        self.rng = rng
        self.targets = targets
        self.sections = profile["sections"]
        self.link_rate = profile["link_rate"]
        self.dangling_share = profile["dangling_share"]
        self.mention_rate = profile["mention_rate"]
        self.svo_rate = profile["svo_rate"]

    def _count(self, rate: float) -> int:
        # rate is the mean count per paragraph
        whole = int(rate)
        return whole + (1 if self.rng.random() < rate - whole else 0)

    def link(self) -> str:
        rng = self.rng
        if rng.random() < self.dangling_share:
            target = f"missing-{rng.choice(WORDS)}-{rng.randint(0, 50)}"
        else:
            target = page_name(self.targets.draw(rng))
        if rng.random() < 0.3:
            return f"[[{target}|{rng.choice(WORDS)} {rng.choice(WORDS)}]]"
        return f"[[{target}]]"

    def paragraph(self) -> str:
        rng = self.rng
        parts = [_sentence(rng) for _ in range(rng.randint(1, 3))]
        for _ in range(self._count(self.link_rate)):
            parts.append(f"See {self.link()} for {rng.choice(WORDS)}.")
        for _ in range(self._count(self.mention_rate)):
            who = rng.choice(PEOPLE + ORGS)
            parts.append(f"The {rng.choice(WORDS)} report cites {who} twice.")
        for _ in range(self._count(self.svo_rate)):
            subj = rng.choice(PEOPLE + ORGS)
            obj = rng.choice(THINGS + ORGS)
            parts.append(f"{subj} {rng.choice(VERBS)} {obj}.")
        rng.shuffle(parts)
        return " ".join(parts)

    def block(self, kind: str) -> str:
        rng = self.rng
        if kind == "list":
            marker = ["-", "*", "1."][rng.randint(0, 2)]
            return "\n".join(f"{marker} {_words(rng, 2, 6)}"
                             for _ in range(rng.randint(2, 5)))
        if kind == "todo":
            return "\n".join(
                f"- [{'x' if rng.random() < 0.4 else ' '}] "
                f"{rng.choice(['fix', 'add', 'check', 'drop'])} {_words(rng, 2, 5)}"
                for _ in range(rng.randint(1, 4)))
        if kind == "table":
            cols = rng.randint(2, 4)
            rows = ["| " + " | ".join(rng.choice(WORDS) for _ in range(cols)) + " |"
                    for _ in range(rng.randint(1, 4))]
            return "\n".join(["| " + " | ".join(f"col{c}" for c in range(cols)) + " |",
                              "|" + "---|" * cols] + rows)
        if kind == "code":
            lang = rng.choice(LANGS)
            body = "\n".join(f"{rng.choice(WORDS)} = {rng.randint(0, 999)}"
                             for _ in range(rng.randint(1, 6)))
            return f"```{lang}\n{body}\n```"
        return "> " + _sentence(rng)

    def markdown(self, title: str) -> str:
        rng = self.rng
        out = [f"# {title}", self.paragraph()]
        for s in range(self.sections):
            out.append(f"## {rng.choice(WORDS).capitalize()} {rng.choice(WORDS)} {s}")
            out.append(self.paragraph())
            if rng.random() < 0.3:
                out.append(f"### {rng.choice(WORDS).capitalize()} notes {s}")
                out.append(self.paragraph())
            for kind in ("list", "todo", "table", "code", "quote"):
                if rng.random() < 0.35:
                    out.append(self.block(kind))
        return "\n\n".join(out) + "\n"

    def html(self, title: str) -> str:
        """An html-only page: boilerplate around paragraphs long enough to
        survive html_extract's density rules."""
        rng = self.rng
        paras = "".join(f"<p>{self.paragraph()} {_sentence(rng)}</p>"
                        for _ in range(self.sections + 1))
        return (f"<!DOCTYPE html><html><head><title>{title}</title></head>"
                f"<body><nav><a href='/'>home</a></nav><h1>{title}</h1>"
                f"{paras}<footer>crawl footer</footer></body></html>")


def _page(rng: random.Random, targets: _LinkTargets, name: str,
          ts_offset: int, profile: dict) -> dict:
    w = _PageWriter(rng, targets, profile)
    title = name.replace("-", " ").title()
    if profile["html"]:
        html, text = w.html(title), None
    else:
        text = w.markdown(title)
        html = f"<html><body><pre>{text}</pre></body></html>"
    return {"url": page_url(name), "warc_ts": EPOCH + dt.timedelta(seconds=ts_offset),
            "html": html, "text": text, "lang": "en"}


def make_corpus(seed: int, n_pages: int) -> list[dict]:
    """The original crawl: pages ``page-00000`` .. ``page-<n-1>``."""
    rng = random.Random(f"corpus-{seed}")
    targets = _LinkTargets(rng, n_pages)
    profiles = _profiles(rng, n_pages)
    return [_page(rng, targets, page_name(i), i, profiles[i]) for i in range(n_pages)]


def make_recrawl_batches(seed: int, n_pages: int, n_batches: int,
                         edited: int, added: int) -> list[list[dict]]:
    """Re-crawl batches: each edits ``edited`` distinct existing pages (new
    body, same url, later warc_ts) and adds ``added`` new urls."""
    rng = random.Random(f"recrawl-{seed}")
    targets = _LinkTargets(random.Random(f"corpus-{seed}"), n_pages)
    batches = []
    ts = n_pages
    for b in range(n_batches):
        profiles = _profiles(rng, edited + added)
        names = [page_name(i) for i in sorted(rng.sample(range(n_pages), edited))]
        names += [f"new-{b:03d}-{j:02d}" for j in range(added)]
        rows = []
        for name, profile in zip(names, profiles):
            ts += 1
            rows.append(_page(rng, targets, name, ts, profile))
        batches.append(rows)
    return batches


QUERY_KINDS = ("describe", "ask_backlink", "open_todos", "section_levels")


def make_query_mix(seed: int, doc_urls: list[str], n: int) -> list[list[tuple[str, str]]]:
    """``n`` requests of a document view: ``describe`` the document, ``ask``
    whether it has a backlink, the open-todo typed scan and the
    section -> heading -> level join, in a seeded order per request.  The
    document is drawn uniformly from the given urls."""
    rng = random.Random(f"queries-{seed}")
    mix = []
    for _ in range(n):
        doc = rng.choice(doc_urls)
        kinds = list(QUERY_KINDS)
        rng.shuffle(kinds)
        mix.append([(k, doc if k in ("describe", "ask_backlink") else "") for k in kinds])
    return mix


def write_pages(rows: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGE_SCHEMA), path)
