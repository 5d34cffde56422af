#!/usr/bin/env python3
"""Golden physical-plan fingerprints for the batch catalog (round-9
verdict item 7): snapshot a NORMALIZED plan skeleton per entry —
operator tree, exchange partitionings, broadcast sides, pushed
filters, read schemas — so a lost broadcast, a new Exchange, or a
lost pushdown shows up as a pytest diff without running any bench.

The fingerprint deliberately keeps only features that are stable
across sessions and hosts: expression ids (#123), plan ids, file
locations, and statistics are normalized away; partition counts stay
(they come from spark.sql.shuffle.partitions, pinned by the session
both here and in conftest).

Regeneration (after a DELIBERATE plan change):
    python scripts/plan_fingerprints.py --write
then review the docs/PLAN_FINGERPRINTS.json diff like code.

Streaming twins are excluded: their queries() callables DRAIN real
micro-batch sequences (side-effectful, minutes of wall), and their
per-trigger plans are exercised by the stateful-streaming tests.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "docs",
    "PLAN_FINGERPRINTS.json",
)
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_EXPR_ID = re.compile(r"#\d+[L]?")
_PLAN_ID = re.compile(r"\[plan_id=\d+\]")
_CODEGEN = re.compile(r"\[codegen id : \d+\]")
_RDD_ID = re.compile(r"\[id=#?\d+\]")
_WS = re.compile(r"\s+")
# detail block header: "(7) BroadcastHashJoin [codegen id : 3]"
_NODE = re.compile(r"^\((\d+)\) (\S[^\n]*?)(?: \[codegen id : \d+\])?$")


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren depth 0."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def _canon_partitioning(line: str) -> str:
    """The distinct-aggregate rewrite emits hashpartitioning keys in a
    session-history-dependent ORDER (observed: q21's gid expansion
    swaps l_suppkey with its CASE twin across fresh sessions). The
    partitioning is a SET of keys, so sort them (depth-aware: the
    keys may themselves contain parens). Every occurrence in the line
    is rewritten — an Arguments line can carry both join sides'
    output partitionings."""
    tag = "hashpartitioning("
    out, pos = [], 0
    while True:
        start = line.find(tag, pos)
        if start < 0:
            out.append(line[pos:])
            return "".join(out)
        i, depth = start + len(tag), 1
        while i < len(line) and depth:
            if line[i] == "(":
                depth += 1
            elif line[i] == ")":
                depth -= 1
            i += 1
        inner = _split_top_level(line[start + len(tag): i - 1])
        if len(inner) > 1:
            inner = sorted(inner[:-1]) + [inner[-1]]  # last item = numParts
        out.append(line[pos:start] + tag + ", ".join(inner) + ")")
        pos = i


def _norm(line: str) -> str:
    line = _EXPR_ID.sub("#_", line)
    line = _PLAN_ID.sub("", line)
    line = _CODEGEN.sub("", line)
    line = _RDD_ID.sub("[id=_]", line)
    line = _canon_partitioning(line)
    return _WS.sub(" ", line).strip()


def fingerprint_df(df) -> list[str]:
    """Normalized feature lines for one DataFrame's physical plan."""
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    text = jqe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    feats: list[str] = []
    for block in text.split("\n\n"):
        lines = block.strip("\n").split("\n")
        m = _NODE.match(lines[0].strip())
        if not m:
            continue
        name = m.group(2).strip()
        feats.append(name)
        want_args = "Exchange" in name or "Broadcast" in name
        is_scan = name.startswith("Scan")
        for ln in lines[1:]:
            s = ln.strip()
            if want_args and s.startswith("Arguments:"):
                feats.append("  " + _norm(s))
            elif is_scan and s.startswith(("PushedFilters:", "ReadSchema:")):
                feats.append("  " + _norm(s))
    return feats


_EXECUTED_MARKERS = (
    "ResultQueryStage",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "AQEShuffleRead",
    "TableCacheQueryStage",
    "InMemoryTableScan",
    "InMemoryRelation",
)


def compute_all(spark, sf_dir: str = SF_DIR) -> dict[str, list[str]]:
    """Fingerprint every batch catalog entry against a PRISTINE plan.

    Order-robustness (round-10 verdict item 1): catalog query frames
    are memoized per session (queries.py `register`), and once a frame
    has been EXECUTED — e.g. by an earlier test in the same session —
    AQE rewrites its formatted explain into the final adaptive plan
    (QueryStage / AQEShuffleRead nodes), inflating the node list vs the
    goldens, which pin the never-executed shape. So: drop the query
    memo (forcing fresh, never-executed frames) and clear the cache
    manager (so no test-left `.cache()` substitutes InMemoryRelation
    subtrees) before fingerprinting. Any surviving executed-plan
    artifact is a hard error, not a silent drift."""
    import __spark_entry__ as entrymod

    from spark_eventhubs_spark.plans.hubview import clear_cached_plans

    clear_cached_plans(spark, "query")
    spark.catalog.clearCache()
    out: dict[str, list[str]] = {}
    for name, fn in entrymod.queries().items():
        if name.startswith("stream_"):
            continue
        feats = fingerprint_df(fn(spark, sf_dir))
        stale = [
            f for f in feats
            if any(f.lstrip().startswith(m) for m in _EXECUTED_MARKERS)
        ]
        if stale:
            raise RuntimeError(
                f"{name}: executed-plan artifacts in fingerprint "
                f"(session state leaked past the clears): {stale[:3]}"
            )
        out[name] = feats
    return out


def main() -> int:
    write = "--write" in sys.argv

    from spark_eventhubs_spark.session import build_session

    # the test fixture's session: the fingerprints depend on its 8 cores
    # and 8 shuffle partitions
    spark = build_session("plan-fingerprints", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    got = compute_all(spark)
    if write:
        with open(GOLDEN, "w") as fh:
            json.dump(got, fh, indent=1, sort_keys=True)
        print(f"wrote {len(got)} fingerprints to {GOLDEN}")
        return 0
    golden = json.load(open(GOLDEN))
    bad = sorted(
        k for k in set(golden) | set(got) if golden.get(k) != got.get(k)
    )
    for k in bad:
        print(f"MISMATCH {k}")
    print(f"{len(got) - len(bad)}/{len(got)} match")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
