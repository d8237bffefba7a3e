"""Dump .explain("formatted") physical plans for the headline queries.

Three forms:

    python tools/dump_plans.py <sf_dir>
        Writes every HEADLINE plan into PLANS.md — the plan-shape audit
        trail.  Regenerate after plan changes.

    python tools/dump_plans.py <sf_dir> --round R --tag T [name ...]
        Per-query mode for before/after evidence: writes
        plans/<R>/<name>_<T>.txt for every HEADLINE query, or just the
        named ones.

    python tools/dump_plans.py --round R --diff
        Compares the <name>_before.txt / <name>_after.txt pairs in
        plans/<R>/ once every per-session counter (``#<exprId>``, plan
        and RDD ids, tempfile suffixes, lambda variable numbers) is
        stripped, and prints one line per query (identical / DIFFERENT).
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADER = """# Physical plans (headline queries)

Generated by `tools/dump_plans.py` at sf={sf} — the `.explain("formatted")`
output for every query in `bench.py`'s HEADLINE list.  What to look for:

- `PushedFilters` / narrow `ReadSchema` on every parquet scan
  (predicate pushdown + column pruning reached the source);
- `WholeStageCodegen` spans covering the relational work;
- joins: `BroadcastHashJoin` for dimension sides, hash/sort-merge with
  high-cardinality keys elsewhere — never `CartesianProduct` /
  `BroadcastNestedLoopJoin` on a hot path.  The only
  `BroadcastNestedLoopJoin Cross` nodes are deliberate ONE-ROW
  broadcasts (the ANN query vector, the corpus doc-count): a 1-row
  nested loop is a map-side constant append, not a join explosion;
- `ArrowEvalPython` only where Python is the design (fetch/transform
  UDFs, LSH signatures), never wrapping relational work;
- exchanges only where a shuffle is semantically required (groupBy,
  range-partition for contiguous sharding, band/bucket joins).
"""

# per-session counters a plan prints: expression ids, exchange/broadcast
# plan ids, RDD ids and creation sites, tempfile directory suffixes and
# the JVM's lambda variable counter (``x_123``)
_SESSION_IDS = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\] at (\S+) at \S+:\d+"), r"RDD[] at \1"),
    (re.compile(r"(/tmp/[A-Za-z0-9_.-]*?_)[a-z0-9_]{8}\b"), r"\1"),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1"),
]


def _plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    # control chars in plan literals (e.g. the \x00 null-exempt url
    # key) would make the file read as binary — escape them
    plan = buf.getvalue().strip()
    return "".join(
        c if c in "\n\t" or ord(c) >= 32 else f"\\x{ord(c):02x}"
        for c in plan
    )


def strip_session_ids(plan: str) -> str:
    """The plan with every per-session counter removed, so two dumps of
    one plan from two sessions compare equal."""
    for pattern, repl in _SESSION_IDS:
        plan = pattern.sub(repl, plan)
    return plan


def _write_plans_md(sf_dir: str) -> None:
    from bench import HEADLINE, RESOLVE
    from img2dataset_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    out = [HEADER.format(sf=sf_dir.rstrip("/").rsplit("sf", 1)[-1])]
    for name in HEADLINE:
        out.append(f"\n## {name}\n\n```\n{_plan_text(RESOLVE[name](spark, sf_dir))}\n```\n")
    path = os.path.join(ROOT, "PLANS.md")
    with open(path, "w") as fh:
        fh.write("".join(out))
    print(f"wrote {path} ({len(HEADLINE)} plans)")


def _dump_per_query(sf_dir: str, outdir: str, tag: str, names) -> None:
    from bench import HEADLINE, RESOLVE
    from img2dataset_spark.session import get_spark

    names = names or HEADLINE
    spark = get_spark(app_name="dump_plans")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        plan = _plan_text(RESOLVE[name](spark, sf_dir))
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan + "\n")
        print(name, flush=True)
    print(f"wrote {len(names)} plans to {outdir}")


def _diff(outdir: str) -> int:
    names = sorted(
        f[: -len("_before.txt")]
        for f in os.listdir(outdir)
        if f.endswith("_before.txt")
    )
    differing = 0
    for name in names:
        after = os.path.join(outdir, f"{name}_after.txt")
        if not os.path.exists(after):
            print(f"{name}: no after dump")
            differing += 1
            continue
        with open(os.path.join(outdir, f"{name}_before.txt")) as fh:
            a = strip_session_ids(fh.read())
        with open(after) as fh:
            b = strip_session_ids(fh.read())
        same = a == b
        differing += not same
        print(f"{name}: {'identical' if same else 'DIFFERENT'}")
    print(f"{len(names) - differing}/{len(names)} identical")
    return differing


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir", nargs="?", help="scale-factor directory")
    ap.add_argument("names", nargs="*", help="per-query mode: these queries")
    ap.add_argument("--round", help="per-query mode: write to plans/<round>/")
    ap.add_argument("--tag", help="per-query mode: file suffix (before/after)")
    ap.add_argument("--diff", action="store_true",
                    help="compare the round's before/after dumps")
    args = ap.parse_intermixed_args()
    if args.round is None:
        if args.sf_dir is None:
            ap.error("give the scale-factor directory")
        _write_plans_md(args.sf_dir)
        return
    outdir = os.path.join(ROOT, "plans", args.round)
    if args.diff:
        sys.exit(1 if _diff(outdir) else 0)
    if args.sf_dir is None or not args.tag:
        ap.error("--round needs the scale-factor directory and --tag")
    _dump_per_query(args.sf_dir, outdir, args.tag, args.names)


if __name__ == "__main__":
    main()
