"""Scripts and tests resolve the repository from ``__file__``.

A file that names the checkout's absolute path runs that checkout's code
and data even when it is started from a copy, so a comparison between
two copies silently measures one of them twice.
"""

from __future__ import annotations

import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_no_file_names_the_checkout_path():
    # built from this file's location, so the test never names it itself
    needle = str(ROOT)
    files = [*ROOT.glob("scripts/**/*.py"), *ROOT.glob("tests/**/*.py")]
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    hits = [
        f"{f.relative_to(ROOT)}:{n}"
        for f in files
        for n, line in enumerate(f.read_text(encoding="utf-8").splitlines(), 1)
        if needle in line
    ]
    assert not hits, f"files naming the checkout path {needle}: {hits}"
