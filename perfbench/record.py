"""Record the expected outputs the benchmark checks against.

    python3 perfbench/record.py [--oracle]

Run from the root of a checkout.  Writes ``perfbench/expected.json``:
``driver_batch`` holds each bench query's content hash (the same forcing
action as the benchmark) and ``bi_wire`` the row digest of every
seed-independent pool statement run directly through
``EngineSession.sql``, plus the row count the COPY must write.  With
``--oracle`` each bench query is also compared with its DuckDB oracle on
the same tables (strict comparator) and every mismatch is kept under
``oracle_mismatch``: the recorded hash pins the engine's current output,
and a listed query is a known engine defect, not a benchmark error.
Re-record only when a change is meant to alter results, and say so.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()
    import datagen
    import run

    build = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    data = datagen.ensure(os.path.join(build, f"data-sf{run.SF}"), run.SF)
    tmp = tempfile.mkdtemp(dir=build)
    os.environ.update(run.engine_env(os.getcwd(), tmp))
    import engine

    from dataclod_spark.registry import load_all_queries
    from dataclod_spark.session import EngineSession
    from dataclod_spark.testing import compare_query

    spark = engine.start_spark(tmp)
    EngineSession(spark)
    registry = load_all_queries()
    out: dict = {"driver_batch": {}, "bi_wire": {}, "oracle_mismatch": {}}
    for name in sorted(n for n, q in registry.items() if q.bench):
        qd = registry[name]
        if args.oracle:
            ok, detail = compare_query(spark, data, qd.fn, qd.oracle, strict=True)
            print(f"oracle {name}: {'ok' if ok else detail}", file=sys.stderr)
            if not ok:
                out["oracle_mismatch"][name] = detail[:300]
        out["driver_batch"][name] = str(engine.force(qd.fn(spark, data)))
    wire = EngineSession(spark.newSession())
    engine.serve_views(wire, data)
    for st in engine.wire_pool(data, seed=0):
        if st.kind == "write":
            src = st.sql[st.sql.index("(") + 1:st.sql.rindex(") TO")]
            out["bi_wire"][st.key] = wire.sql(src).count()
        elif st.kind != "lookup":
            out["bi_wire"][st.key] = engine.direct_digest(wire, st)
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
