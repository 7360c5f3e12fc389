"""Check that inputs are a pure function of (workload, seed, size).

    python3 e2ebench/check_inputs.py

Builds the ``extract_mixed`` inputs twice for one seed and once for
another, in fresh cache dirs, and checks that the same seed gives
byte-identical parquet and oracle digests and that the other seed gives
different ones. Exits non-zero on the first violation.
"""

import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402


def _files(d: Path) -> dict:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def main() -> int:
    inputs.CACHE.mkdir(exist_ok=True)
    scratch = Path(tempfile.mkdtemp(dir=inputs.CACHE))
    try:
        a = _files(inputs.ensure("extract_mixed", 7, 4, scratch / "a"))
        b = _files(inputs.ensure("extract_mixed", 7, 4, scratch / "b"))
        c = _files(inputs.ensure("extract_mixed", 8, 4, scratch / "c"))
        if a != b:
            print("FAIL extract_mixed: seed 7 built twice differs")
            return 1
        if any(a[name] == c[name] for name in a):
            print("FAIL extract_mixed: seeds 7 and 8 share a file")
            return 1
        print(f"ok   extract_mixed: {sorted(a)} identical for one seed, "
              f"different across seeds")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
