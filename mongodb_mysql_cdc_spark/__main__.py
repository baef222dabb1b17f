"""CLI — the reference's `replicate this database` entry point:

    python -m mongodb_mysql_cdc_spark \
        --source /root/testdata/sf0.001 --sink /tmp/replica \
        --chunks 4 --verify

Runs snapshot + change-stream tail into a parquet sink and prints a JSON
status line: ``sink_dir``, ``last_batch`` (the last committed batch id;
-1 is the snapshot), ``state_rows`` and ``live_rows``. --verify
additionally checks the sink state against the batch LWW fold of the
full history (exit code 1 on divergence).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="mongodb_mysql_cdc_spark")
    ap.add_argument("--source", default="/root/testdata/sf0.001")
    ap.add_argument("--sink", default=None)
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument("--snapshot-chunks", type=int, default=1)
    ap.add_argument("--verify", action="store_true")
    args = ap.parse_args(argv)

    from mongodb_mysql_cdc_spark.replication import ReplicationPipeline, expected_state
    from mongodb_mysql_cdc_spark.session import get_session

    spark = get_session("replicate")
    kwargs = dict(n_chunks=args.chunks, snapshot_chunks=args.snapshot_chunks)
    if args.sink:
        kwargs["sink_dir"] = args.sink
    pipe = ReplicationPipeline(spark, args.source, **kwargs)
    state = pipe.run()

    status = pipe.status()
    if args.verify:
        want = expected_state(spark, args.source)
        diff = state.exceptAll(want).count() + want.exceptAll(state).count()
        status["verified"] = diff == 0
        status["diverging_rows"] = diff
    print(json.dumps(status))
    return 0 if (not args.verify or status["verified"]) else 1


if __name__ == "__main__":
    sys.exit(main())
