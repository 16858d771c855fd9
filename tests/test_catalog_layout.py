"""Layout guard: `catalog` is the only module that knows how a logical
table sits on disk, so no other module may build the `sys` physical
prefix of the underscore system tables."""

from __future__ import annotations

from pathlib import Path

import heapdumpstardiver_spark

PATTERNS = ('f"sys{', "f'sys{", '"sys_', "'sys_")


def test_only_catalog_spells_the_sys_prefix():
    pkg = Path(heapdumpstardiver_spark.__file__).parent
    offenders = [
        f"{path.relative_to(pkg)}:{i}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "catalog.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(p in line for p in PATTERNS)
    ]
    assert offenders == [], "use catalog.physical_name:\n" + "\n".join(offenders)
