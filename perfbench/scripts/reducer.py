#!/usr/bin/env python3
"""Word-count reducer: reads `word\tcount` lines sorted by word and writes
one `word\tsum` line per run of equal words. Lines without a tab are
skipped."""
import io
import itertools
import sys


def pairs(lines):
    for line in lines:
        key, sep, value = line.rstrip("\n").partition("\t")
        if sep:
            yield key, int(value)


out = io.TextIOWrapper(sys.stdout.buffer, encoding="utf-8", newline="\n")
stream = io.TextIOWrapper(sys.stdin.buffer, encoding="utf-8")
for word, group in itertools.groupby(pairs(stream), key=lambda kv: kv[0]):
    out.write(f"{word}\t{sum(v for _, v in group)}\n")
out.flush()
