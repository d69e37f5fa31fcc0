"""Formatter unit tests (S6): simple/json/table + batch JSONL shapes."""

from __future__ import annotations

import json

from bm25_index_tool_spark.formatters import (
    format_batch_jsonl,
    format_json,
    format_simple,
    format_table,
)

RESULTS = [
    {"path": "a/b.py", "name": "b.py", "score": 1.25, "document_id": 1},
    {
        "path": "c/d.md",
        "name": "d.md",
        "score": 0.5,
        "document_id": 2,
        "fragments": [
            {"line_start": 1, "line_end": 2, "lines": ["x", "y"], "matched_line_numbers": [1]}
        ],
    },
]


def test_simple():
    out = format_simple(RESULTS, "q")
    assert "1. a/b.py  (score: 1.2500)" in out
    assert "L1-2" in out
    assert format_simple([], "q") == "No results found."


def test_json_truncation():
    big = [{"path": "p", "score": 1.0, "content": "x" * 600}]
    parsed = json.loads(format_json(big, "q"))
    r = parsed["results"][0]
    assert len(r["content"]) == 500 and r["content_truncated"] is True
    small = json.loads(format_json([{"path": "p", "score": 1.0, "content": "hi"}], "q"))
    assert "content_truncated" not in small["results"][0]


def test_table():
    out = format_table(RESULTS)
    lines = out.splitlines()
    assert lines[0].split() == ["#", "path", "score"]
    assert "a/b.py" in lines[2]


def test_batch_jsonl_order_and_grouping():
    rows = [
        {"query_id": 1, "query": "b", "doc_id": 9, "path": "p9", "score": 0.1, "rank": 1},
        {"query_id": 0, "query": "a", "doc_id": 3, "path": "p3", "score": 0.9, "rank": 1},
        {"query_id": 0, "query": "a", "doc_id": 4, "path": "p4", "score": 0.8, "rank": 2},
    ]
    lines = format_batch_jsonl(rows).splitlines()
    assert len(lines) == 2
    q0 = json.loads(lines[0])
    assert q0["query_id"] == 0 and [r["rank"] for r in q0["results"]] == [1, 2]
    assert json.loads(lines[1])["query_id"] == 1


def test_completion_scripts_generate():
    from bm25_index_tool_spark.completion import COMMANDS, generate

    bash = generate("bash")
    zsh = generate("zsh")
    fish = generate("fish")
    for cmd in COMMANDS:
        assert cmd in bash and cmd in zsh and cmd in fish
    assert "--semantic" in bash and "compdef" in zsh
    import pytest

    with pytest.raises(ValueError, match="unsupported shell"):
        generate("powershell")


def test_format_info_and_semantic():
    from bm25_index_tool_spark.formatters import format_info, format_semantic

    meta = {
        "name": "x", "location": "/tmp/x", "created_at": "t", "file_count": 12,
        "num_buckets": 8, "format": 2, "generation": 7,
        "bm25_params": {"k1": 1.2, "b": 0.75},
        "tokenization": {"profile": "unicode61", "stemmer": None, "stopwords": "s"},
        "engines": {"join": True, "blocks": False},
        "vector_metadata": {"embedding_model": "stub", "dimensions": 32},
    }
    out = format_info(meta)
    assert "Index: x" in out and "k1: 1.2" in out and "Vector Search:" in out
    assert "Format: 2  (generation 7)" in out
    sem = format_semantic(
        [{"path": "a", "score": 0.5, "chunk_text": "hello world", "chunk_index": 1}], "q"
    )
    assert "1. a" in sem and "chunk 1: hello world" in sem
    assert format_semantic([], "q") == "No results found."


def test_simple_content_truncation_suffix():
    from bm25_index_tool_spark.formatters import format_simple

    long_content = "line1\n" + "x" * 600
    out = format_simple(
        [{"path": "a", "score": 1.0, "content": long_content}], "q"
    )
    assert "... (truncated, 106 more characters)" in out
    assert "   1 | line1" in out
    short = format_simple([{"path": "a", "score": 1.0, "content": "ab\ncd"}], "q")
    assert "truncated" not in short and "   2 | cd" in short
