#!/usr/bin/env python3
"""Fixture-table read lint: every fixture read goes through graft.sources.Tables.

`Tables` is the one place that normalizes `events.ts` and that caches each
table's inferred Parquet schema per application, so a query that reads a
fixture table's `<name>.parquet` directly both skips the timestamp fix and
pays a schema-inference job per call. This lint scans every Scala file
under src/main/scala except sources/Tables.scala and FAILS on any
`read[...].parquet(...)` / `read[...].load(...)` whose path argument names
a fixture table file: one of the ten tables of FIXTURES.md, or an
interpolated `$name.parquet`. Reads of query-written temp directories
(`s.read.parquet(tmp)`) are not fixture reads and pass. Tests are out of
scope: FixtureLayoutSpec must read the raw file schemas.

Usage: python3 tools/table_read_lint.py [--src src/main/scala]
Exit 0 = clean, 1 = a direct fixture read outside Tables.scala.
"""
import argparse
import os
import re
import sys

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
EXEMPT = os.path.join("graft", "sources", "Tables.scala")

READ_RE = re.compile(r"\bread(?:Stream)?\b")
CHAIN_RE = re.compile(r"\s*\.\s*(\w+)\s*\(")
FIXTURE_RE = re.compile(
    r"(?:\b(?:" + "|".join(TABLES) + r")|\$\{?\w+\}?)\.parquet\b")


def strip_comments(text):
    """Blank out // and /* */ comments, keeping string literals (which
    hold the paths) and every character offset (for line numbers)."""
    out = list(text)
    i, n = 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            i = n if j == -1 else j + 3
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == '\\' else 1
            i = j + 1
        elif re.match(r"'(?:\\.|[^\\'])'", text[i:i + 4]):
            i += 3 if text[i + 1] != "\\" else 4  # char literal, e.g. '"'
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j == -1 else j
            out[i:j] = " " * (j - i)
            i = j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j == -1 else j + 2
            out[i:j] = [c if c == "\n" else " " for c in text[i:j]]
            i = j
        else:
            i += 1
    return "".join(out)


def argument(text, start):
    """The balanced argument text of the call whose `(` ends at `start`."""
    depth, i = 1, start
    while i < len(text) and depth:
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        i += 1
    return text[start:i - 1]


def terminal_argument(text, pos):
    """Follow the call chain after `read` at `pos` (schema/option/format
    calls, any nesting) to its terminal parquet(...) or load(...) and
    return that call's argument; None for any other chain."""
    while True:
        m = CHAIN_RE.match(text, pos)
        if not m:
            return None
        arg = argument(text, m.end())
        if m.group(1) in ("parquet", "load"):
            return arg
        if m.group(1) not in ("schema", "option", "options", "format"):
            return None
        pos = m.end() + len(arg) + 1


def offenders(src):
    found = []
    for root, _, files in os.walk(src):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            if not fn.endswith(".scala") or path.endswith(EXEMPT):
                continue
            with open(path) as f:
                clean = strip_comments(f.read())
            for m in READ_RE.finditer(clean):
                arg = terminal_argument(clean, m.end())
                if arg is not None and FIXTURE_RE.search(arg):
                    line = clean.count("\n", 0, m.start()) + 1
                    found.append(f"{path}:{line}: {' '.join(arg.split())}")
    return found


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="src/main/scala")
    a = ap.parse_args()
    bad = offenders(a.src)
    for b in bad:
        print("TABLE_READ_LINT FAIL:", b,
              "— read fixture tables through graft.sources.Tables")
    if bad:
        sys.exit(1)
    print("TABLE_READ_LINT: clean (fixture tables are read only through graft.sources.Tables)")


if __name__ == "__main__":
    main()
