"""Clone budget: the package's copied code may only shrink.

The scan is the one ROADMAP item 9 reports: every line of every
``heapdumpstardiver_spark/**/*.py`` file is whitespace-normalized,
blank and ``#`` comment lines are dropped, and each run of 8
consecutive remaining lines is a window. A line counts as duplicated
when it lies inside a window whose text occurs more than once in the
package (in the same file or another). Folding a copy onto a shared
helper lowers the count; lower ``CLONE_BUDGET`` with it.
"""

from __future__ import annotations

import collections
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "heapdumpstardiver_spark"
WINDOW = 8
CLONE_BUDGET = 50


def duplicated_lines(root: pathlib.Path = PACKAGE, window: int = WINDOW) -> dict[str, int]:
    """Per-file count of lines inside a duplicated window."""
    files = {}
    for path in sorted(root.rglob("*.py")):
        lines = [" ".join(raw.split()) for raw in path.read_text().splitlines()]
        files[path] = [s for s in lines if s and not s.startswith("#")]
    seen = collections.defaultdict(list)
    for path, lines in files.items():
        for k in range(len(lines) - window + 1):
            seen[tuple(lines[k:k + window])].append((path, k))
    dup = collections.defaultdict(set)
    for occ in seen.values():
        if len(occ) > 1:
            for path, k in occ:
                dup[path].update(range(k, k + window))
    return {str(p.relative_to(root)): len(v) for p, v in dup.items()}


def test_clone_budget():
    per_file = duplicated_lines()
    total = sum(per_file.values())
    assert total <= CLONE_BUDGET, (
        f"{total} duplicated lines (budget {CLONE_BUDGET}): "
        f"{sorted(per_file.items(), key=lambda kv: -kv[1])}"
    )
