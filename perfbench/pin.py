#!/usr/bin/env python3
"""Re-pin the catalog expectations in `perfbench/catalog.json`.

    python3 perfbench/pin.py <pins.json> <check.log>

`pins.json` is what the runner's pin mode writes for every catalog key
(digest, rows, schema, pack) over `perfbench/fixture/sf0.001`:

    java ... perfbench.Main --mode pin --fixture perfbench/fixture/sf0.001 \
        --work <dir> --out pins.json

`check.log` is the output of the repository's DuckDB comparison over
`graft.Verify`'s dump of the same fixture, from the same commit. A key's
digest is pinned only if that comparison printed `[PASS] <key>`; every
other key is checked on row count and schema only.

The key lists are pinned here, not derived at run time, so that later
key changes do not move them. `serial` is every 29th key of the sorted
catalog, starting at the first key, plus the first key of each
`QueryPack` that stride misses, so that every pack has a key.
`concurrent` is every 6th key, starting at the first key.
"""
import json
import os
import re
import sys

SERIAL_STRIDE = 29
CONCURRENT_STRIDE = 6


def main(pins_path, check_log):
    with open(pins_path) as f:
        pins = json.load(f)
    with open(check_log) as f:
        passed = set(re.findall(r"^\s*\[PASS\] (\S+)", f.read(), re.M))
    keys = sorted(pins)
    expect = {}
    for k in keys:
        e = dict(pins[k])
        if k not in passed:
            e["digest"] = ""
        expect[k] = e
    serial = keys[::SERIAL_STRIDE]
    covered = {pins[k]["pack"] for k in serial}
    for k in keys:
        if pins[k]["pack"] not in covered:
            covered.add(pins[k]["pack"])
            serial.append(k)
    out = {"fixture": "sf0.001",
           "serial": sorted(serial),
           "concurrent": keys[::CONCURRENT_STRIDE],
           "oracle_passing": len([k for k in keys if expect[k]["digest"]]),
           "expect": expect}
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(keys)} keys, {out['oracle_passing']} digests pinned, "
          f"{len(out['serial'])} serial over {len(covered)} packs, "
          f"{len(out['concurrent'])} concurrent")


if __name__ == "__main__":
    main(*sys.argv[1:])
