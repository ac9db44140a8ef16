"""[NORTH-RULE, no ref] connected components via iterative DataFrame joins.

Hash-min propagation with POINTER JUMPING: every node starts with
component = own id; each round,
  component(v) = min(component(v),
                     min over neighbors component(u),      # hash-min
                     component(component(v)))              # label-of-label
The label-of-label join halves the remaining distance to each
component's minimum every round (path doubling), so convergence is
O(log diameter) instead of O(diameter) — a 10^6-hop duplicate chain
resolves in ~20 rounds. Near-dup clusters are usually tiny (diameter
2-3), so the doubling join is DEFERRED (``JUMP_AFTER`` rounds):
shallow graphs converge on seed + plain hash-min rounds without paying
the extra self-join or its codegen, and the doubling term still makes
the default max_iterations=20 budget safe for adversarial chain-shaped
graphs at web scale.

Scale hygiene per the north rule:
  * edges are symmetrized once, then every round is one shuffle
    (join on node) + one aggregation (min per node);
  * ``localCheckpoint`` each round cuts the lineage so the plan does not
    grow with iterations (prevents driver-side plan blowup at round 20);
  * bounded by max_iterations with explicit convergence check (count of
    changed labels == 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# plain hash-min rounds before pointer jumping starts; chain-shaped
# graphs then converge in JUMP_AFTER + O(log diameter) rounds
JUMP_AFTER = 2


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id.

    If the labelling is still changing after ``max_iterations`` rounds
    (a component's diameter exceeds the budget — long duplicate chains
    can do this at web scale), the labels are WRONG, not approximate, so
    this raises RuntimeError instead of returning them."""
    # checkpoint FIRST: the (possibly expensive) edge computation upstream
    # materializes exactly once — symmetrizing via union would otherwise
    # evaluate the whole upstream plan twice (once per direction)
    base = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )
    sym = (
        base.unionByName(base.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # seed with min(self, min neighbor) — identical to one hash-min
    # propagation round over the identity labelling, so convergence needs
    # one fewer (shuffle + checkpoint + convergence-check) iteration
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("a"), F.min("b")).alias("component"))
        .localCheckpoint(eager=True)
    )

    for rnd in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(sym["a"].alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        candidates = [
            F.col("component"),
            F.coalesce(F.col("nbr_min"), F.col("component")),
        ]
        joined = labels.join(neighbor_min, "node", "left")
        if rnd >= JUMP_AFTER:
            # pointer jumping: my component's CURRENT component (the
            # labels relation joined to itself on component = node). The
            # component id is always an existing node id, so the join is
            # total; deferred past the shallow-graph rounds (see
            # ``JUMP_AFTER``).
            grand = labels.select(
                F.col("node").alias("__c"), F.col("component").alias("grand_min")
            )
            joined = joined.join(grand, joined["component"] == grand["__c"], "left")
            candidates.append(F.coalesce(F.col("grand_min"), F.col("component")))
        changed_pred = candidates[1] < F.col("component")
        for extra in candidates[2:]:
            changed_pred = changed_pred | (extra < F.col("component"))
        updated = joined.select(
            "node",
            F.least(*candidates).alias("component"),
            changed_pred.alias("__changed"),
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.where(F.col("__changed")).limit(1).count()
        labels = updated.drop("__changed")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "rounds: a component's diameter exceeds the iteration budget "
        "and the returned labels would over-split it. Raise "
        "max_iterations (rounds needed = graph diameter)."
    )
