"""Source scan: the snapshot store's physical layout stays in one module.

Only ``rtsa_spark/snapshot.py`` may touch the store's data dir or build
``v=<version>`` dir paths; every other module goes through the stage-table
verbs (``read``, ``month_dirs``, ``files``), so a layout change is a
one-module change.
"""
from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "rtsa_spark"
OWNER = PKG / "snapshot.py"
# the data-dir attribute, or a string literal / f-string piece that
# starts a version dir name
LEAK = re.compile(r"""_data_dir|["']v=|\{V_COL\}=""")


def test_version_layout_lives_in_snapshot_module():
    files = sorted(PKG.rglob("*.py"))
    assert OWNER in files
    leaks = [
        f"{f.relative_to(PKG.parent)}:{n}: {line.strip()}"
        for f in files
        if f != OWNER
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if LEAK.search(line)
    ]
    assert not leaks, "version-dir layout outside snapshot.py:\n" + "\n".join(
        leaks
    )
    # the scan really matches the owner's own path building
    assert LEAK.search(OWNER.read_text())
