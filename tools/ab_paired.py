"""Paired interleaved A/B bench (the r14 measurement protocol,
committed as a tool in r15).

Sequential whole-process A/Bs were tried in r14 and DISCARDED: this
host's ambient noise (kernel memory compaction; loadavg swings 1→10
with no user process) produces ±2× swings between processes. The
protocol that survives it: par/cur alternate per iteration inside ONE
process, and the statistic is the median of per-pair deltas plus the
pairwise win count. An identical-code control query in the same run
reads the noise floor (±10% on this host).

Version swapping: the parent (``BASE``, default HEAD) source of the
changed modules is fetched via ``git show`` and exec'd into the LIVE
module objects (module identity preserved, namespace cleared first) —
no worktree mutation, crash-safe. Dependent operator modules are
re-exec'd from the worktree source afterwards so their
``from tables import ...`` bindings refresh. Module-level caches die
with each swap, so every iteration starts with clearCache() + an
uncounted warm-up run per query: pairs compare warm steady state
under the version's OWN cache policy.

Usage:
    python tools/ab_paired.py QUERY[,QUERY...] [--pairs N] [--base REF]
        [--mod MODULE ...]  # changed module, a.b or a/b.py (repeatable);
                            # default: auto from git diff
Prints per-query median pair delta (cur vs base, negative = faster)
and win counts; exits 0.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# reload order matters: shared infra first, then operator modules
MODULE_ORDER = [
    "flink_sql_toolkit_spark.tables",
    "flink_sql_toolkit_spark.operators.relational",
    "flink_sql_toolkit_spark.operators.dialect_queries",
    "flink_sql_toolkit_spark.operators.tvf",
    "flink_sql_toolkit_spark.operators.asof",
    "flink_sql_toolkit_spark.operators.match_recognize",
    "flink_sql_toolkit_spark.operators.dedup",
    "flink_sql_toolkit_spark.operators.similarity",
    "flink_sql_toolkit_spark.operators.textstats",
    "flink_sql_toolkit_spark.operators.multimodal",
    "flink_sql_toolkit_spark.operators.functions_battery",
]


def _mod_path(modname: str) -> str:
    return modname.replace(".", "/") + ".py"


def _git_show(ref: str, relpath: str) -> str:
    return subprocess.run(
        ["git", "show", f"{ref}:{relpath}"],
        cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout


def _exec_into(modname: str, src: str) -> None:
    mod = importlib.import_module(modname)
    code = compile(src, mod.__file__, "exec")
    keep = {k: v for k, v in vars(mod).items() if k.startswith("__")}
    vars(mod).clear()
    vars(mod).update(keep)
    exec(code, vars(mod))


def swap_to(version: str, base_ref: str, changed: list[str]) -> None:
    """Load ``base_ref``'s source ('base') or the worktree's ('cur')
    for the changed modules, then re-exec every module at-or-after the
    first changed one so stale from-imports refresh."""
    first = min(MODULE_ORDER.index(m) for m in changed)
    for modname in MODULE_ORDER[first:]:
        rel = _mod_path(modname)
        if version == "base" and modname in changed:
            src = _git_show(base_ref, rel)
        else:
            src = (REPO / rel).read_text()
        _exec_into(modname, src)


def query_fn(name: str):
    """Resolve a bench query from the LIVE modules (post-swap)."""
    from flink_sql_toolkit_spark.operators import registry

    if name in registry.QUERIES:
        return registry.QUERIES[name]
    # bench.py's UNREGISTERED map equivalents
    unreg = {
        "dedup_exact": ("dedup", "dedup_exact"),
        "q6_revenue_forecast": ("relational", "q6_revenue_forecast"),
        "q14_promo_revenue": ("dialect_queries", "q14_promo_revenue"),
        "tvf_session": ("tvf", "tvf_session"),
        "asof_prev_order": ("asof", "asof_prev_order"),
        "match_recognize_funnel": ("match_recognize", "match_recognize_funnel"),
        "text_quality_score": ("textstats", "text_quality_score"),
        "sim_ivf_topk": ("similarity", "sim_ivf_topk"),
    }
    modshort, fn = unreg[name]
    mod = importlib.import_module(f"flink_sql_toolkit_spark.operators.{modshort}")
    return getattr(mod, fn)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries")
    ap.add_argument("--pairs", type=int, default=7)
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--mod", action="append", default=None,
                    help="changed module (a.b or a/b.py); repeatable; "
                    "default from git diff")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--timed-runs", type=int, default=2)
    args = ap.parse_args()
    names = args.queries.split(",")

    if args.mod:
        # a dotted module name or its path (a/b.py, ./a/b.py)
        changed = [
            m.removeprefix("./").removesuffix(".py").replace("/", ".")
            for m in args.mod
        ]
        unknown = [m for m in changed if m not in MODULE_ORDER]
        if unknown:
            ap.error(f"--mod {unknown}: not in {MODULE_ORDER}")
    else:
        diff = subprocess.run(
            ["git", "diff", "--name-only", args.base, "--"],
            cwd=REPO, check=True, capture_output=True, text=True,
        ).stdout.split()
        changed = [
            m for m in MODULE_ORDER if _mod_path(m) in diff
        ]
    if not changed:
        print("no changed modules vs", args.base)
        sys.exit(2)
    print(f"changed modules: {changed}; base={args.base}")

    from flink_sql_toolkit_spark.session import build_spark

    spark = build_spark("ab_paired")
    sc = spark.sparkContext

    def run_version(version: str) -> dict[str, float]:
        swap_to(version, args.base, changed)
        spark.catalog.clearCache()
        out: dict[str, float] = {}
        for name in names:
            fn = query_fn(name)
            sc.setJobDescription(f"ab:{version}:{name}:warm")
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs = []
            for i in range(args.timed_runs):
                sc.setJobDescription(f"ab:{version}:{name}:{i}")
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                fn(spark, args.sf).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            out[name] = min(runs)
        return out

    # warm the JVM once (codegen, parquet footers) before any pair
    run_version("cur")

    deltas: dict[str, list[float]] = {n: [] for n in names}
    for p in range(args.pairs):
        # alternate which version goes first inside the pair so slow
        # ambient drift cancels across pairs
        order = ("base", "cur") if p % 2 == 0 else ("cur", "base")
        res = {}
        for v in order:
            res[v] = run_version(v)
        for n in names:
            deltas[n].append(res["cur"][n] / res["base"][n] - 1.0)
        line = {n: round(d[-1], 3) for n, d in deltas.items()}
        print(f"pair {p}: {json.dumps(line)}", flush=True)

    print("\n== medians (cur vs base; negative = cur faster) ==")
    for n in names:
        d = deltas[n]
        wins = sum(1 for x in d if x < 0)
        print(f"{n:28s} median {statistics.median(d):+.1%}  "
              f"wins {wins}/{len(d)}")
    # leave the worktree's code live
    swap_to("cur", args.base, changed)


if __name__ == "__main__":
    main()
