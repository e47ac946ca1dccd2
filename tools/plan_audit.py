#!/usr/bin/env python
"""Physical-plan audit over every registered query.

For each `queries()` entry, inspects the formatted physical plan and
records the scale-relevant facts:

- scans: columns read (ReadSchema) vs table width -> column pruning,
  and PushedFilters -> predicate pushdown;
- joins: broadcast-hash vs sort-merge vs nested-loop counts;
- exchanges (shuffles) and whole-stage-codegen coverage;
- Python boundaries (ArrowEvalPython / FlatMapGroupsInPandas /
  BatchEvalPython) — row-at-a-time BatchEvalPython is flagged;
- GLOBAL single-partition exchanges (the physical shape under any
  unpartitioned window / global sort): each one is classified against
  a bounded-input whitelist — k-limited subtree (GlobalLimit /
  TakeOrderedAndProject), scalar-aggregate merge (partial
  HashAggregate with zero grouping keys), the config-bounded `__pid`
  offsets tables of the distributed prefix scans, or driver-literal
  LocalTableScan inputs.  Anything else pushes data-sized input
  through ONE task and is flagged for review.

Writes PLANS.md (one row per query + per-query notes) so plan shape is
reviewable per round without re-running Spark.  Usage:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import explain, run_query  # noqa: E402

TABLE_WIDTHS = {
    "region": 3, "nation": 4, "customer": 8, "supplier": 7, "part": 9,
    "orders": 9, "lineitem": 16, "events": 6, "documents": 5,
    "embeddings": 3,
}


def plans(df) -> tuple[str, str]:
    """(formatted, simple) explain outputs.  Formatted carries scans /
    PushedFilters; simple carries the `*(N)` whole-stage-codegen markers."""
    return explain(df, "formatted"), explain(df, "simple")


def _global_exchange_audit(plan: str) -> tuple[int, int, list[str]]:
    """Classify every `Exchange SinglePartition` in the formatted plan.

    Returns (n_bounded, n_flagged, flag_notes).  A single-partition
    exchange funnels its whole input through one task — fine only when
    that input is provably small:

    - ``limit``: the subtree holds a GlobalLimit / TakeOrderedAndProject
      / CollectLimit, so at most k rows reach the exchange;
    - ``scalar-agg``: the direct child is a partial aggregate with zero
      grouping keys — one row per upstream partition;
    - ``pid-offsets``: the subtree aggregates on ``__pid`` — the
      per-partition totals table of ``operators/_scan.py``'s two-level
      prefix scan, bounded by spark.sql.shuffle.partitions;
    - ``local-literal``: the subtree reads only driver-side literals
      (LocalTableScan), no parquet / RDD scan;
    - ``resolved-small``: the exchange feeds a Window over the
      ``__scan<i>`` columns of ``_scan.prefix_scan`` — its window form,
      chosen by an eager row-count estimate (<
      spark.graft.distCumWindowMaxRows) at plan-construction time; at
      scale ``_scan.resolve_two_level`` flips the same call site to the
      two-level ``__pid``-offsets shape, so this single-partition
      window is bounded BY MEASUREMENT, not by structure.
    """
    bounded, flagged, notes = 0, 0, []
    # each tree section (main plan + any subqueries) is parsed alone so
    # subtree extraction never crosses tree boundaries
    for section in re.split(r"={3,}\s*Subquer", plan):
        tree: list[tuple[int, int, str]] = []  # (depth, node_id, name)
        for line in section.splitlines():
            m = re.match(
                r"^([ :+\-]*(?:\* )?)([A-Za-z][\w .]*?) \((\d+)\)\s*$", line
            )
            if m:
                # depth excludes the codegen "* " marker so starred and
                # unstarred siblings measure the same tree level
                depth = len(re.sub(r"\* $", "", m.group(1)))
                tree.append((depth, int(m.group(3)), m.group(2)))
        details: dict[int, str] = {}
        for m in re.finditer(
            r"^\((\d+)\) ([^\n]+)\n((?:(?!\(\d+\) ).*\n?)*)",
            section,
            re.M,
        ):
            details[int(m.group(1))] = m.group(3)
        for i, (depth, nid, nname) in enumerate(tree):
            if nname.strip() != "Exchange":
                continue
            if "SinglePartition" not in details.get(nid, ""):
                continue
            sub = []
            for d2, id2, n2 in tree[i + 1 :]:
                if d2 <= depth:
                    break
                sub.append((id2, n2))
            sub_names = " ".join(n for _, n in sub)
            # ancestor chain (nearest-first): a Window directly above
            # over the prefix scan's __scan<i> columns marks the
            # resolved-small shape
            anc: list[tuple[int, str]] = []
            d_cur = depth
            for d2, id2, n2 in reversed(tree[:i]):
                if d2 < d_cur:
                    anc.append((id2, n2))
                    d_cur = d2
                if len(anc) >= 4:
                    break
            verdict = None
            if any(
                n2 == "Window"
                and re.search(
                    r"__scan\d", details.get(id2, "") or ""
                )
                for id2, n2 in anc
            ):
                verdict = "resolved-small"
            if verdict:
                pass
            elif re.search(
                r"GlobalLimit|TakeOrderedAndProject|CollectLimit", sub_names
            ):
                verdict = "limit"
            elif sub and re.match(
                r"(Hash|Sort|ObjectHash)Aggregate", sub[0][1]
            ) and re.search(
                r"Keys(?: \[0\])?: \[\]", details.get(sub[0][0], "")
            ):
                verdict = "scalar-agg"
            elif any(
                re.match(r"(Hash|Sort|ObjectHash)Aggregate", n)
                and (
                    km := re.search(
                        r"Keys \[\d+\]: \[([^\]]*)\]",
                        details.get(sid, "") or "",
                    )
                )
                and "__pid" in km.group(1)
                for sid, n in sub
            ):
                verdict = "pid-offsets"
            elif sub and not re.search(
                r"Scan parquet|Scan ExistingRDD", sub_names
            ) and "LocalTableScan" in sub_names:
                verdict = "local-literal"
            if verdict:
                bounded += 1
            else:
                flagged += 1
                notes.append(
                    f"node ({nid}) SinglePartition exchange over "
                    f"[{' > '.join(n for _, n in sub[:4]) or 'leaf'}]"
                )
    return bounded, flagged, notes


def audit_one(name: str, plan: str, simple: str) -> dict:
    scans = []
    for m in re.finditer(
        r"Location:.*?/(\w+)\.parquet.*?ReadSchema: struct<([^>]*)>",
        plan,
        re.S,
    ):
        table = m.group(1)
        ncols = len([c for c in m.group(2).split(",") if ":" in c])
        scans.append((table, ncols, TABLE_WIDTHS.get(table)))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed_nonempty = sum(1 for p in pushed if p.strip())
    gb, gf, gnotes = _global_exchange_audit(plan)
    return {
        "global_1p_bounded": gb,
        "global_1p_flagged": gf,
        "global_1p_notes": gnotes,
        "name": name,
        "scans": scans,
        "pushed_filters": pushed_nonempty,
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "exchanges": len(re.findall(r"\(\d+\) Exchange\b", plan)),
        "reused_exchanges": len(re.findall(r"\(\d+\) ReusedExchange\b", plan)),
        "codegen": len({int(m) for m in re.findall(r"\*\((\d+)\)", simple)}),
        "arrow_python": len(
            re.findall(
                r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|MapInArrow",
                plan,
            )
        ),
        "slow_python": len(re.findall(r"BatchEvalPython", plan)),
        "full_width_scans": [
            t for (t, n, w) in scans if w is not None and n >= w
        ],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from occupation_wage_etl_spark.queries import SPARK_QUERIES
    from occupation_wage_etl_spark.session import get_spark

    # AQE off for the audit only: the static plan then shows join choice,
    # exchanges, and codegen stages without needing to execute each query.
    spark = get_spark(
        "plan-audit", extra_conf={"spark.sql.adaptive.enabled": "false"}
    )
    rows = []
    for name in sorted(SPARK_QUERIES):
        try:
            (fmt, simple), _, _ = run_query(spark, name, sf_dir, plans)
            rows.append(audit_one(name, fmt, simple))
        except Exception as exc:  # audit everything even if one breaks
            rows.append({"name": name, "error": f"{type(exc).__name__}: {exc}"})

    lines = [
        "# PLANS — physical-plan audit (auto-generated by tools/plan_audit.py)",
        "",
        f"Scale factor dir: `{sf_dir}`.  Columns: scans as table:cols-read/width,",
        "joins as broadcast/sort-merge/nested-loop, shuffles = Exchange count,",
        "py = Arrow-batched Python ops (row-at-a-time BatchEvalPython would be",
        "flagged in **bold** — none should exist).",
        "",
        "",
        "`global 1p` = single-partition exchanges: `n ok` are bounded-input",
        "(limit / scalar-agg merge / __pid offsets / driver literals /",
        "resolved-small prefix-scan windows — see",
        "tools/plan_audit.py:_global_exchange_audit), flagged ones appear in",
        "Review flags with their subtree.",
        "",
        "| query | scans (read/width) | joins b/s/n | shuffles | codegen | py | global 1p |",
        "|---|---|---|---|---|---|---|",
    ]
    warnings = []
    for r in rows:
        if "error" in r:
            lines.append(f"| {r['name']} | ERROR {r['error']} | | | | | |")
            continue
        scans = ", ".join(f"{t}:{n}/{w}" for t, n, w in r["scans"]) or "—"
        py = r["arrow_python"] + r["slow_python"]
        py_s = f"**{py}**" if r["slow_python"] else str(py)
        ex = str(r["exchanges"])
        if r["reused_exchanges"]:
            ex += f" (+{r['reused_exchanges']} reused)"
        g1 = "—"
        if r["global_1p_bounded"] or r["global_1p_flagged"]:
            g1 = f"{r['global_1p_bounded']} ok"
            if r["global_1p_flagged"]:
                g1 += f" + **{r['global_1p_flagged']} FLAG**"
        lines.append(
            f"| {r['name']} | {scans} | {r['bhj']}/{r['smj']}/{r['bnlj']} "
            f"| {ex} | {r['codegen']} | {py_s} | {g1} |"
        )
        if r["slow_python"]:
            warnings.append(
                f"- {r['name']}: row-at-a-time BatchEvalPython in plan"
            )
        for note in r["global_1p_notes"]:
            warnings.append(
                f"- {r['name']}: unbounded single-partition exchange — {note}"
            )
        for t in r["full_width_scans"]:
            # full-width reads are fine only when the query truly needs
            # every column (e.g. SELECT *); flag for human review.
            warnings.append(f"- {r['name']}: reads ALL columns of {t}")
    lines.append("")
    lines.append(
        "Notes: q39 shows no scans because its result is the final\n"
        "localCheckpoint of the iterative label-propagation loop; its\n"
        "per-iteration plan is the q13 edge plan + one join/agg round.\n"
        "q27 legitimately reads every events column (the as-of join\n"
        "carries the full event payload to the output).  q21's\n"
        "BroadcastNestedLoopJoin is the deliberate brute-force exact\n"
        "verification tier — q13/q22 (hash-blocked) and q23/q24\n"
        "(LSH/IVF-blocked) are the candidate-generation scale paths.\n"
        "q72's nested-loop joins are the broadcast SHORT-STRING\n"
        "fallback of the fuzzy join (strings under q*(d+1) chars can\n"
        "match with zero shared grams; both short sides are empty on\n"
        "this corpus — the main path is the gram-count equi-join).\n"
        "q235/q236/q237's nested-loop joins are the EXACT-TIER side of\n"
        "the round-7 recall audits (brute all-pairs cosine / top-k\n"
        "panel / all-pairs levenshtein): O(n^2) by documented contract,\n"
        "bounded to deterministic samples (id caps, 8-query panel) in\n"
        "the registry — the banded/probe tiers they audit are the\n"
        "production paths and stay equi-joins."
    )
    lines.append("")
    warnings = list(dict.fromkeys(warnings))
    if warnings:
        lines.append("## Review flags")
        lines.extend(warnings)
    else:
        lines.append("## Review flags\nnone")
    lines.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(rows)} queries)")
    for w in warnings:
        print(w)


if __name__ == "__main__":
    main()
