"""Scale-hazard linter: global windows / single-group applyInPandas.

VERDICT r3 "What's wrong" #2: an unpartitioned Window (Spark's "No
Partition Defined for Window operation" warning) or a constant-grouped
``applyInPandas`` moves EVERY row of its input to one task.  That is
safe by construction only when the input is a bounded *census* frame —
the output of an aggregation that contracted raw grain to a
statistically bounded number of cells (the census pattern of
``operators/census.py``).  Nothing used to gate that invariant: a
future query could put a global window on a raw-grain frame, pass
correctness at sf0.01, and hide a single-task scale-killer.

This linter audits the *optimized logical plan tree* (what will
execute) via the same plan-inspection approach as
``plans/leakage.py``:

- every ``Window`` node with an empty ``partitionSpec`` and every
  ``FlatMapGroupsInPandas`` whose grouping attributes are all
  constant-valued must have a **contraction** node (Aggregate /
  Deduplicate / GlobalLimit / LocalLimit) or an explicitly bounded
  leaf (LocalRelation / OneRowRelation) strictly below it;
- a lineage-truncation boundary (LogicalRDD from ``stableCheckpoint``)
  hides the history, so a global op directly over a checkpointed frame
  is UNKNOWN and must be explicitly whitelisted by the caller — the
  test sweep (tests/test_plans.py) carries the audited whitelist of
  bounded sites.

The check is structural, not statistical: it proves "someone contracted
the frame before the single-task op", not "the contraction is small" —
the latter is the whitelist audit's job (each entry cites its bound).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

# Nodes that contract a frame to bounded cardinality before a global op.
_CONTRACTIONS = {
    "Aggregate",
    "Deduplicate",
    "GlobalLimit",
    "LocalLimit",
}
# Leaves that are bounded by construction (driver-built small relations).
_BOUNDED_LEAVES = {"LocalRelation", "OneRowRelation"}
# Lineage-truncation boundary: history invisible -> caller must whitelist.
_OPAQUE_LEAVES = {"LogicalRDD"}

_LIT_DEF_RE = r"(?:-?\d+(?:\.\d+)?|true|false|null|X?'[^']*')\s+AS\s+{name}#{eid}\b"


class ScaleHazardError(AssertionError):
    pass


@dataclass
class Hazard:
    node: str      # 'Window' | 'FlatMapGroupsInPandas'
    reason: str    # 'raw_grain' | 'opaque_input'
    detail: str


def _children(p):
    return [p.children().apply(i) for i in range(p.children().size())]


def _subtree_verdict(p) -> str:
    """'bounded' if a contraction/bounded leaf sits below, 'opaque' if
    the first blocker is a lineage-truncation leaf, else 'raw'."""
    name = p.nodeName()
    if name in _CONTRACTIONS:
        return "bounded"
    if name in _BOUNDED_LEAVES:
        return "bounded"
    if name == "Range":
        # a literal-count spine (spark.range(k)) is bounded iff its row
        # count is statically small; a 10^12-row Range is raw grain
        m = re.match(r"Range \((-?\d+), (-?\d+)", p.toString())
        if m and int(m.group(2)) - int(m.group(1)) <= 1_000_000:
            return "bounded"
        return "raw"
    if name in _OPAQUE_LEAVES:
        return "opaque"
    kids = _children(p)
    if not kids:
        return "raw"
    verdicts = [_subtree_verdict(c) for c in kids]
    # a join/union is bounded only if EVERY input is bounded (one raw
    # side keeps the whole row volume); opaque dominates raw.
    if all(v == "bounded" for v in verdicts):
        return "bounded"
    if any(v == "opaque" for v in verdicts):
        return "opaque"
    return "raw"


def _grouping_is_constant(p) -> bool:
    """FlatMapGroupsInPandas grouping attrs all defined as literals in
    the subtree (``groupBy(lit(1).alias(...))`` shape)."""
    arg = p.argString(120)
    m = re.match(r"\[([^\]]*)\]", arg)
    if not m or not m.group(1).strip():
        return True  # no grouping attributes at all
    attrs = [a.strip() for a in m.group(1).split(",")]
    subtree = "\n".join(c.toString() for c in _children(p))
    for a in attrs:
        am = re.match(r"(\w+)#(\d+)", a)
        if not am:
            return False
        if not re.search(
            _LIT_DEF_RE.format(name=re.escape(am.group(1)), eid=am.group(2)), subtree
        ):
            return False
    return True


def audit_scale_hazards(df: DataFrame) -> list[Hazard]:
    hazards: list[Hazard] = []

    def walk(p):
        name = p.nodeName()
        if name == "Window" and p.partitionSpec().size() == 0:
            kids = _children(p)
            v = _subtree_verdict(kids[0]) if kids else "raw"
            if v != "bounded":
                hazards.append(
                    Hazard(
                        "Window",
                        "raw_grain" if v == "raw" else "opaque_input",
                        p.argString(160),
                    )
                )
        elif name == "FlatMapGroupsInPandas" and _grouping_is_constant(p):
            kids = _children(p)
            v = _subtree_verdict(kids[0]) if kids else "raw"
            if v != "bounded":
                hazards.append(
                    Hazard(
                        "FlatMapGroupsInPandas",
                        "raw_grain" if v == "raw" else "opaque_input",
                        p.argString(160),
                    )
                )
        for c in _children(p):
            walk(c)

    qe = df._jdf.queryExecution()
    # a streaming frame cannot be optimized before writeStream.start();
    # audit the analyzed logical plan instead — same node vocabulary
    # (Window / FlatMapGroupsInPandas / Aggregate), pre-optimization
    walk(qe.analyzed() if df.isStreaming else qe.optimizedPlan())
    return hazards


def assert_scale_safe(df: DataFrame, allow_opaque: bool = False) -> None:
    """Raise unless every global window / single-group applyInPandas
    consumes a post-contraction frame.  ``allow_opaque=True`` accepts
    global ops over lineage-truncated (checkpointed) inputs — for
    whitelisted sites whose bound was audited by hand."""
    bad = []
    for h in audit_scale_hazards(df):
        if h.reason == "opaque_input" and allow_opaque:
            continue
        bad.append(h)
    if bad:
        detail = "; ".join(f"{h.node}[{h.reason}]: {h.detail[:120]}" for h in bad)
        raise ScaleHazardError(
            f"single-task operator over non-contracted input: {detail}"
        )
