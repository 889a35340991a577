#!/usr/bin/env python3
"""Word-count mapper: emits `word\t1` for every token of every input line.

Tokens are runs of `[a-z](?:[a-z'‘’]*[a-z])?` over the lowercased line, so
an apostrophe inside a word keeps the word whole and edge punctuation is
dropped."""
import io
import re
import sys

TOKEN = re.compile(r"[a-z](?:[a-z'‘’]*[a-z])?")

out = io.TextIOWrapper(sys.stdout.buffer, encoding="utf-8", newline="\n")
for line in io.TextIOWrapper(sys.stdin.buffer, encoding="utf-8"):
    for word in TOKEN.findall(line.lower()):
        out.write(word + "\t1\n")
out.flush()
