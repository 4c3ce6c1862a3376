"""bench.py's contract line: the tail-capture guard sheds optional keys
in a fixed order, error names last; the detail file it names is
git-ignored, so a bench run leaves the tree clean."""

from __future__ import annotations

import json
import os

from bench import DETAIL_FILE, contract_line


def test_contract_line_sheds_error_names_last():
    out = {
        "metric": "headline_queries_total_wall",
        "value": 1.0,
        "queries": "",
        "master": "local[4]",
        "error_queries": ["q01_scan_project"],
        "detail_file": DETAIL_FILE,
    }
    core = {k: v for k, v in out.items() if k not in ("master", "detail_file")}
    # padded so the line fits exactly once master AND detail_file are shed
    out["queries"] = "x" * (1900 - len(json.dumps(core)))
    assert len(json.dumps(out)) > 1900
    line = contract_line(out)
    assert len(line) <= 1900
    got = json.loads(line)
    assert got["error_queries"] == ["q01_scan_project"]
    assert "master" not in got and "detail_file" not in got


def test_detail_file_is_git_ignored():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, ".gitignore")) as f:
        ignored = f.read().split()
    assert DETAIL_FILE.split("/")[0] + "/" in ignored
