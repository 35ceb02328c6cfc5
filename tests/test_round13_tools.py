"""Leak-scan pins: the secret and internal-URL scan over tracked source.

The detection regexes are assembled from neutral fragments at runtime,
so the scanner's own config never matches itself. These tests pin that
(a) the assembled patterns still DETECT planted fixtures — behavior
identical to the literal form — and (b) no tracked repo text matches any
pattern, including this file.

Every planted fixture below is itself assembled at runtime from
fragments, for the same reason the patterns are.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def leak_patterns() -> dict[str, str]:
    """The leak categories, re-expressed as greps (zero hits in every
    category is the standing bar).

    Assembled from neutral fragments at RUNTIME: embedding the detection
    regexes as tracked literals would make the scanner's own config a
    hit. Joining the name fragments here means no internal-looking token
    ever appears contiguously in tracked text, and the scan covers this
    file like any other."""
    vendor = "".join(("an", "thro", "pic"))
    short = "".join(("a", "nt"))
    code_chan = "".join(("#cl", "aude", "-code"))
    key_prefix = "".join(("sk-", short, "-"))
    return {
        "internal-import": (
            rf"(^|\s)(import|from)\s+({vendor}_internal|{short}_intern)"),
        "internal-url": rf"https?://[a-z0-9.-]*\.({vendor}|{short})\.internal",
        "internal-bucket": rf"s3://({short}-|{vendor}-internal)",
        "slack-link": rf"slack\.com/archives|{code_chan}",
        "api-key": rf"{key_prefix}[A-Za-z0-9_-]{{10,}}",
    }


def _planted() -> dict[str, list[str]]:
    """category -> fixture strings the assembled pattern MUST match
    (runtime-joined so this test file cannot itself become a hit)."""
    vendor = "".join(("an", "thro", "pic"))
    short = "".join(("a", "nt"))
    return {
        "internal-import": [
            f"import {vendor}_internal",
            f"from {short}_internal_tools import x".replace(
                "_internal_tools", "_intern.tools"),
        ],
        "internal-url": [
            f"https://wiki.{vendor}.internal/page",
            f"http://svc.{short}.internal/api",
        ],
        "internal-bucket": [
            f"s3://{short}-data/corpus",
            f"s3://{vendor}-internal/secrets",
        ],
        "slack-link": [
            "".join(("https://sl", "ack.com/arch", "ives/C12345")),
            "".join(("see #cl", "aude", "-code for details")),
        ],
        "api-key": [
            "".join(("sk-", short, "-", "abcDEF1234567890")),
        ],
    }


def test_assembled_patterns_detect_planted_fixtures():
    patterns = leak_patterns()
    planted = _planted()
    assert set(patterns) == set(planted)
    for cat, fixtures in planted.items():
        for text in fixtures:
            assert re.search(patterns[cat], text), (cat, text)


def test_assembled_patterns_ignore_benign_lookalikes():
    """Public-ecosystem names that share fragments must NOT hit."""
    patterns = leak_patterns()
    benign = [
        "import antigravity",          # stdlib easter egg
        "https://spark.apache.org/docs/latest/api",
        "s3://my-public-bucket/data",
        "# claude-ish comment without the channel form",
        "ski-lift-0123456789abc",
    ]
    for text in benign:
        for cat, pat in patterns.items():
            assert not re.search(pat, text), (cat, text)


def test_no_pattern_source_contains_its_own_target():
    """The neutralization property: the tracked source of the scan (this
    test module) must not contain any assembled token contiguously."""
    tokens = ["".join(("an", "thro", "pic")),
              "".join(("#cl", "aude", "-code")),
              "".join(("sk-", "a", "nt", "-"))]
    with open(os.path.join(REPO, "tests", "test_round13_tools.py")) as fh:
        src = fh.read()
    for tok in tokens:
        assert tok not in src, tok


def test_repo_tracked_python_is_leak_clean():
    """Zero hits across the package, tools, tests (this file INCLUDED)
    and the entry/bench scripts."""
    patterns = leak_patterns()
    roots = ("tfm_taxitrips_spark", "tools", "tests", "bench.py",
             "__spark_entry__.py")
    hits: list[str] = []
    for root in roots:
        p = os.path.join(REPO, root)
        files = [p] if os.path.isfile(p) else [
            os.path.join(r, f)
            for r, _d, fs in os.walk(p) for f in fs if f.endswith(".py")
        ]
        for f in files:
            with open(f, errors="replace") as fh:
                src = fh.read()
            for cat, pat in patterns.items():
                if re.search(pat, src):
                    hits.append(f"{cat}: {os.path.relpath(f, REPO)}")
    assert hits == []
