#!/usr/bin/env python3
"""Cross-check the benchmark's bi5 generator with an independent decoder.

    python3 perfbench/xcheck.py [SEED]

Has the benchmark write its layer-probe tree, then decodes every file with
Python's standard lzma module and struct.unpack('>3I2f') -- the method of
the reference bi5_to_csv.py script -- and compares the row count and the
column sums with the tally the generator reports. Run it from the root of a
checkout after one benchmark run has built the classpath.
"""
import json
import lzma
import struct
import subprocess
import sys
import tempfile
import zlib
from datetime import datetime, timezone
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MOD = 1000000007


def main():
    seed = sys.argv[1] if len(sys.argv) > 1 else "1"
    cp = (ROOT / ".bench_build/classpath.txt").read_text().strip()
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as tmp:
        out = subprocess.run(
            ["java", "-cp", cp, "perfbench.Main", "--write-tree", tmp, "--seed", seed],
            cwd=ROOT, check=True, capture_output=True, text=True).stdout
        want = json.loads(out.splitlines()[-1])
        got = dict.fromkeys(want, 0)
        files = sorted(Path(tmp).rglob("*.bi5"))
        for f in files:
            ticker, year, month0, day, hour = f.relative_to(tmp).parts
            base = datetime(int(year), int(month0) + 1, int(day), int(hour[:2]), tzinfo=timezone.utc)
            base_ms = int(base.timestamp() * 1000)
            raw = lzma.decompress(f.read_bytes(), format=lzma.FORMAT_ALONE)
            crc = zlib.crc32(ticker.encode())
            for ms, ask, bid, av, bv in struct.iter_unpack(">3I2f", raw):
                got["rows"] += 1
                got["ts_mod"] += (base_ms + ms) % MOD
                got["ask"] += ask
                got["bid"] += bid
                got["ask_vol16"] += int(av * 16)
                got["bid_vol16"] += int(bv * 16)
                got["ticker_crc"] += crc
    print(f"{len(files)} files")
    for k in want:
        print(f"{k:12} generator {want[k]:>20}  python {got[k]:>20}  {'ok' if want[k] == got[k] else 'MISMATCH'}")
    return 0 if got == want else 1


if __name__ == "__main__":
    sys.exit(main())
