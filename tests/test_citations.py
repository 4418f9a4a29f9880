"""Every repository path a package comment or docstring cites must exist:
a citation is evidence only if a reader can open it."""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CITATION = re.compile(
    r"experiments/[\w./-]*[\w/]|OPTIMIZATION_r\d+\.md|plans/r\d+/[\w./-]*")


def _citations():
    for path in sorted(glob.glob(os.path.join(ROOT, "bacalhau_spark", "**",
                                              "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for cited in CITATION.findall(line):
                    yield os.path.relpath(path, ROOT), lineno, cited


def test_cited_paths_exist():
    missing = [f"{src}:{lineno}: {cited}"
               for src, lineno, cited in _citations()
               if not os.path.exists(os.path.join(ROOT, cited))]
    assert not missing, "cited paths that do not exist:\n" + \
        "\n".join(missing)
