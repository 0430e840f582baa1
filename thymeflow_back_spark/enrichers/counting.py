"""Derivation ref-counting: inference retraction on premise removal.

Parity with reference InferenceCountingInferencer.scala:20-46: every
inferred quad carries a count of the derivation instances supporting it;
removing a premise decrements the supported inferences, and an inference is
retracted only when its count reaches zero. This closes the biggest
semantic gap of add-only enrichers: re-delivering a document *minus* a
triple must also remove the inferences that triple supported.

Spark shape: the counting state is a DataFrame ``counts(quad..., n)``. Each
batch computes an increment from the *genuinely new* premises (SPO not
present before the batch) and a decrement from the *genuinely gone*
premises (SPO absent after the batch), running the SAME derivation function
on both — that symmetry is what makes the counts exact. The derivation
function returns quads with a multiplicity column ``n`` = number of
derivation instances per quad, so multi-support inferences (e.g. two agents
sharing two distinct emails) survive the loss of one premise.

Scale: counts is one compact table of inferred quads; each batch touches it
with one union + aggregate keyed on the quad — no per-document loops, no
driver state. At 100 TB the table is a Delta MERGE target keyed on the quad.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rdf.model import QUAD_COLUMNS, SPO
from ..rdf.store import Diff, StatementStore, anti_join

# (premises, universe, store) -> quads + n. ``premises`` are the quads whose
# SPO appeared/disappeared this batch; ``universe`` is the full quad state
# the derivation should join partners against (post-batch for increments,
# pre-batch for decrements); ``store`` carries auxiliary state (ontology,
# differentFrom suppressions).
DerivationFn = Callable[[DataFrame, DataFrame, StatementStore], DataFrame]


class CountingInferencer:
    """Stateful enricher wrapper adding ref-counted retraction to a
    derivation rule set. Drop-in for the ``(store, diff) -> Diff`` enricher
    protocol of EnrichmentPipeline."""

    def __init__(self, derivations: DerivationFn):
        self.derivations = derivations
        self.counts: DataFrame | None = None

    def __call__(self, store: StatementStore, diff: Diff) -> Diff:
        qc = list(QUAD_COLUMNS)
        s_after = store.quads
        # reconstruct the pre-batch state: (after ∖ added) ∪ removed
        s_old = anti_join(s_after, diff.added, QUAD_COLUMNS).unionByName(
            diff.removed.select(*qc)
        )
        # premise appears: its SPO was not present before the batch
        new_premises = anti_join(diff.added, s_old, SPO)
        # premise disappears: its SPO is not present after the batch (a triple
        # merely moving between graphs is neither gone nor new)
        gone_premises = anti_join(diff.removed, s_after, SPO)

        inc = self.derivations(new_premises, s_after, store)
        dec = self.derivations(gone_premises, s_old, store)

        prev = self.counts if self.counts is not None else inc.filter(F.lit(False))
        merged = (
            prev.unionByName(inc)
            .unionByName(dec.withColumn("n", -F.col("n")))
            .groupBy(*qc)
            .agg(F.sum("n").alias("n"))
        )
        new_counts = merged.filter(F.col("n") > 0).localCheckpoint(eager=True)

        added = anti_join(new_counts, prev, QUAD_COLUMNS).select(*qc)
        removed = anti_join(prev, new_counts, QUAD_COLUMNS).select(*qc)
        self.counts = new_counts
        return Diff(added, removed)
