"""The benchmark's inputs: a fixed fixture and a dataset generated from it.

``data/sf0.01`` is a copy of the engine's sf0.01 test tables (TPC-H-like
tables, an ``events`` stream, ``documents`` and ``embeddings``). The larger
dataset is built once per checkout by the repository's own generator,
``tools/gen_sf.py --factor 10``, pointed at the fixture. It replicates each
table ten times with shifted keys, so the result has sf0.1's row counts.

Every run computes a fingerprint of both datasets (file names, row counts,
and the SHA-256 of the fixture files and of the generator) and refuses to run
when it differs from the one recorded in ``dataset.json``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "data", "sf0.01")
GEN_DIR = os.path.join(HERE, "data", "gen", "sf0.1")
EXPECTED = os.path.join(HERE, "dataset.json")
FACTOR = 10


class DatasetMismatch(RuntimeError):
    pass


def _sha256(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _tables(data_dir: str) -> dict[str, dict[str, int]]:
    import pyarrow.parquet as pq

    out = {}
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        files = (
            sorted(glob.glob(os.path.join(path, "*.parquet")))
            if os.path.isdir(path)
            else [path]
        )
        out[os.path.basename(path)] = {
            "files": len(files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        }
    return out


def fingerprint(root: str) -> dict:
    generator = os.path.join(root, "tools", "gen_sf.py")
    fixture_files = sorted(glob.glob(os.path.join(FIXTURE_DIR, "*.parquet")))
    return {
        "fixture": {
            "dir": os.path.relpath(FIXTURE_DIR, root),
            "sha256": _sha256(fixture_files),
            "tables": _tables(FIXTURE_DIR),
        },
        "generated": {
            "dir": os.path.relpath(GEN_DIR, root),
            "generator": "tools/gen_sf.py",
            "generator_sha256": _sha256([generator]),
            "factor": FACTOR,
            "tables": _tables(GEN_DIR),
        },
    }


def build(root: str, env: dict[str, str]) -> float:
    """Generate the larger dataset with ``tools/gen_sf.py``; returns seconds.

    The generator reads its source from a module constant, so it is run from
    a small launcher that points that constant at the fixture.
    """
    tmp = GEN_DIR + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    launcher = (
        "import sys; sys.path.insert(0, sys.argv[1] + '/tools'); "
        "sys.path.insert(0, sys.argv[1]); import gen_sf; "
        "gen_sf.SRC = sys.argv[2]; "
        "sys.argv = ['gen_sf.py', '--factor', sys.argv[3], '--out', sys.argv[4]]; "
        "gen_sf.main()"
    )
    t0 = time.time()
    subprocess.run(
        [sys.executable, "-c", launcher, root, FIXTURE_DIR, str(FACTOR), tmp],
        env=env,
        check=True,
        stdout=subprocess.DEVNULL,
        timeout=600,
    )
    gen_s = time.time() - t0
    shutil.rmtree(GEN_DIR, ignore_errors=True)
    os.replace(tmp, GEN_DIR)
    with open(os.path.join(GEN_DIR, "_build.json"), "w") as f:
        json.dump({"gen_s": gen_s}, f)
    return gen_s


def ensure(root: str, env: dict[str, str]) -> tuple[dict, float, bool]:
    """Build the generated dataset if missing and check both fingerprints.

    Returns ``(fingerprint, generation seconds, built in this run)``.
    """
    built = not os.path.isfile(os.path.join(GEN_DIR, "_build.json"))
    if built:
        build(root, env)
    with open(os.path.join(GEN_DIR, "_build.json")) as f:
        gen_s = json.load(f)["gen_s"]
    fp = fingerprint(root)
    with open(EXPECTED) as f:
        expected = json.load(f)
    if fp != expected:
        raise DatasetMismatch(
            "dataset fingerprint differs from perfbench/dataset.json:\n"
            f"  expected {json.dumps(expected, sort_keys=True)}\n"
            f"  found    {json.dumps(fp, sort_keys=True)}"
        )
    return fp, gen_s, built


if __name__ == "__main__":
    # python3 perfbench/dataset.py: build the generated dataset if missing
    # and print its fingerprint, the content of dataset.json
    root = os.path.dirname(HERE)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    if not os.path.isfile(os.path.join(GEN_DIR, "_build.json")):
        print(f"built in {build(root, env):.1f} s", file=sys.stderr)
    print(json.dumps(fingerprint(root), indent=1))
