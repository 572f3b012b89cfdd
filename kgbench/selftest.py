"""Self-test of the benchmark's output checks.

    python3 kgbench/selftest.py

Builds a small store with the engine, confirms the checks pass on it,
then seeds two corruptions and confirms each is reported as a failure:
one quad dropped from the POS index, and one row changed in a SPARQL
response. Exits 0 only if all four outcomes are as expected.
"""

from __future__ import annotations

import copy
import glob
import os
import shutil
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgbench import checks, inputs, procs  # noqa: E402
from kgbench.run import log, start_spark  # noqa: E402
from kgbench.workloads import Build  # noqa: E402

CONVS = 120


def drop_one_quad(store: str) -> None:
    path = sorted(glob.glob(os.path.join(store, "triples_pos", "*.parquet")))[0]
    table = pq.read_table(path)
    pq.write_table(table.slice(1), path)
    for crc in glob.glob(os.path.join(store, "triples_pos", ".*.crc")):
        os.remove(crc)


def change_one_row(payload: dict) -> dict:
    bad = copy.deepcopy(payload)
    row = bad["results"]["bindings"][0]
    var = next(iter(row))
    row[var] = dict(row[var], value=row[var]["value"] + "_changed")
    return bad


def main() -> int:
    scratch = os.path.join(os.getcwd(), ".kgbench_run", f"selftest-{os.getpid()}")
    os.makedirs(scratch)
    spark = w = None
    outcomes = []
    try:
        spark, _ = start_spark(scratch, trace=False)
        w = Build(spark, scratch, seed=7)
        w.inp = inputs.transcripts(os.path.join(scratch, "in"), 7, CONVS)
        stats = w.engine.build(spark.read.parquet(w.inp.path), w.gaz)
        reads = [r for r in w.read_set() if r[0].cls == "join"]
        q, _, status, payload, _ = reads[0]
        assert status == 200, f"join query failed with HTTP {status}"

        store = checks.Store(w.store)
        outcomes.append(("intact store passes",
                         not checks.check_build(store, stats, w.inp.oracle)))
        outcomes.append(("intact response passes",
                         not checks.check_query(store, q, payload)))
        bad = checks.check_query(store, q, change_one_row(payload))
        outcomes.append(("changed response row fails", bool(bad)))
        store.close()

        broken = os.path.join(scratch, "broken")
        shutil.copytree(w.store, broken)
        drop_one_quad(broken)
        store = checks.Store(broken)
        bad = checks.check_build(store, stats, w.inp.oracle)
        outcomes.append(("dropped POS quad fails", bool(bad)))
        store.close()
        for name, ok in outcomes:
            log(f"{'ok  ' if ok else 'FAIL'} {name}")
    finally:
        if w is not None:
            w.close()
        if spark is not None:
            procs.stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    return 0 if len(outcomes) == 4 and all(ok for _, ok in outcomes) else 1


if __name__ == "__main__":
    sys.exit(main())
