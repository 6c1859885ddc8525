"""Every ``tools/<name>.py`` a comment or docstring cites must exist.

One-shot measurement scripts are deleted once their decision lands;
a citation left pointing at one sends the reader to a file that is
not there. Cite the OPTIMIZATION_r*.md section instead (and name the
script without its ``tools/`` path, with the commit it was removed
after). Spark-free: reads source text only."""

from __future__ import annotations

import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CITE = re.compile(r"tools/([A-Za-z0-9_]+)\.py")


def _sources():
    for top in ("mypipe_spark", "tests"):
        for root, _dirs, files in os.walk(os.path.join(_REPO, top)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.join(root, f)
    yield os.path.join(_REPO, "bench.py")


def test_cited_tools_exist():
    tools = os.path.join(_REPO, "tools")
    missing = []
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for name in _CITE.findall(line):
                    if not os.path.exists(os.path.join(tools, f"{name}.py")):
                        rel = os.path.relpath(path, _REPO)
                        missing.append(f"{rel}:{lineno} tools/{name}.py")
    assert not missing, "cited tools scripts missing:\n" + "\n".join(missing)
