"""Tests of the benchmark's input generator (no Spark needed).

    python3 -m pytest perfbench/test_gen.py -q
"""

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "vendor")]

import gen  # noqa: E402


def _file_hash(rows, path):
    gen.write_pages(rows, path)
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_same_seed_same_bytes(tmp_path):
    a = _file_hash(gen.make_corpus(7, 40), tmp_path / "a.parquet")
    b = _file_hash(gen.make_corpus(7, 40), tmp_path / "b.parquet")
    c = _file_hash(gen.make_corpus(8, 40), tmp_path / "c.parquet")
    assert a == b != c
    batches = [gen.make_recrawl_batches(7, 40, 3, 4, 2) for _ in range(2)]
    assert batches[0] == batches[1]
    urls = [r["url"] for r in gen.make_corpus(7, 40)]
    assert gen.make_query_mix(7, urls, 50) == gen.make_query_mix(7, urls, 50)


def test_corpus_has_every_entity_kind_and_both_link_outcomes():
    from knowledgebase_processor_spark.extract.core import extract_entities
    from knowledgebase_processor_spark.sources.html_extract import extract_main_text

    rows = gen.make_corpus(3, 60)
    names = {r["url"].rsplit("/", 1)[1][:-len(".md")] for r in rows}
    kinds, targets = set(), []
    for r in rows:
        text = r["text"] if r["text"] is not None else extract_main_text(r["html"])
        for e in extract_entities(r["url"], text):
            kinds.add(e["kind"])
            if e["kind"] == "wikilink":
                targets.append(e["target_path"])
    assert {"heading", "section", "list", "list_item", "todo", "table",
            "code_block", "blockquote", "wikilink"} <= kinds
    assert any(t in names for t in targets)          # resolved
    assert any(t not in names for t in targets)      # dangling
    assert any(r["text"] is None for r in rows)      # html-only pages


def test_recrawl_batches_edit_and_add_without_linking_to_new_pages():
    rows = gen.make_corpus(5, 30)
    old = {r["url"] for r in rows}
    batches = gen.make_recrawl_batches(5, 30, 4, 3, 2)
    for b in batches:
        assert sum(r["url"] in old for r in b) == 3
        assert sum(r["url"] not in old for r in b) == 2
    new_names = {r["url"].rsplit("/", 1)[1][:-len(".md")]
                 for b in batches for r in b if r["url"] not in old}
    bodies = [r["text"] or r["html"] for r in rows] + \
        [r["text"] or r["html"] for b in batches for r in b]
    assert not any(f"[[{n}" in body for n in new_names for body in bodies)
