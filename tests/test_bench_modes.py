"""Docs and code only name bench.py modes that exist (no Spark needed)."""

from __future__ import annotations

import glob
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

SCANNED = (
    "README.md",
    "BASELINE.md",
    "bench.py",
    "docs/*.md",
    ".claude/skills/**/*.md",
    "watchman_spark/**/*.py",
)
FLAG = re.compile(r"bench\.py\s+(--[A-Za-z][\w-]*)")


def test_documented_bench_flags_are_modes():
    seen, unknown = set(), []
    for pattern in SCANNED:
        for path in glob.glob(os.path.join(REPO, pattern), recursive=True):
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    for flag in FLAG.findall(line):
                        seen.add(flag)
                        if flag not in bench.MODES:
                            rel = os.path.relpath(path, REPO)
                            unknown.append(f"{rel}:{lineno}: {flag}")
    assert seen, "no bench.py flag found in the scanned files"
    assert not unknown, unknown
