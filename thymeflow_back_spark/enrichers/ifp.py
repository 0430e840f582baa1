"""Inverse-functional-property identity inference.

Parity with reference InverseFunctionalPropertyInferencer.scala:37-53:
agents sharing an email/telephone/url OBJECT value are inferred sameAs
(symmetric pairs), writing into the enricher's own graph. Incremental
discipline: join DIFF-side subjects against the whole store — never
store×store — so each batch's cost is proportional to the batch.
An asserted differentFrom suppresses the inference (the reference's
isDifferentFrom guard, AbstractEnricher.scala:17-21).

``ifp_derivations`` is the rule expressed with derivation multiplicities
(one instance per unordered premise pair), which the CountingInferencer
runs on both added and removed premises for exact ref-counted retraction
(reference InferenceCountingInferencer.scala:20-46).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rdf import vocab
from ..rdf.model import QUAD_COLUMNS
from ..rdf.store import Diff, StatementStore, anti_join
from .counting import CountingInferencer

IFP_PREDICATES = (vocab.EMAIL, vocab.TELEPHONE, vocab.URL)
OUTPUT_GRAPH = "urn:graph:ifpInferencer"


def _ifp_spv(df: DataFrame) -> DataFrame:
    return (
        df.filter(
            (F.col("predicate").isin(*IFP_PREDICATES)) & (F.col("object_type") == "iri")
        )
        .select("subject", "predicate", "object_value")
        .dropDuplicates()
    )


def ifp_derivations(
    premises: DataFrame, universe: DataFrame, store: StatementStore
) -> DataFrame:
    """IFP rule with derivation multiplicities.

    A derivation instance is an unordered premise pair ((a,p,v),(b,p,v));
    each instance derives sameAs(a,b) and sameAs(b,a). Returns quad rows
    plus ``n`` = instances per quad, so two agents sharing two distinct
    emails keep their sameAs when one email is retracted.
    """
    d = _ifp_spv(premises).alias("d")
    s = _ifp_spv(universe).alias("s")
    instances = (
        d.join(
            s,
            (F.col("d.predicate") == F.col("s.predicate"))
            & (F.col("d.object_value") == F.col("s.object_value"))
            & (F.col("d.subject") != F.col("s.subject")),
        )
        .select(
            F.least(F.col("d.subject"), F.col("s.subject")).alias("a"),
            F.greatest(F.col("d.subject"), F.col("s.subject")).alias("b"),
            F.col("d.predicate").alias("predicate"),
            F.col("d.object_value").alias("object_value"),
        )
        .dropDuplicates()
    )
    # differentFrom suppression (both orientations collapse to (least, greatest));
    # applied to increments and decrements alike so the counts stay symmetric
    different = store.quads.filter(F.col("predicate") == vocab.DIFFERENT_FROM).select(
        F.least(F.col("subject"), F.col("object_value")).alias("a"),
        F.greatest(F.col("subject"), F.col("object_value")).alias("b"),
    )
    instances = instances.join(different, on=["a", "b"], how="left_anti")

    pair_counts = instances.groupBy("a", "b").agg(F.count("*").alias("n"))
    fwd = pair_counts.select(
        F.col("a").alias("subject"), F.col("b").alias("object_value"), "n"
    )
    bwd = pair_counts.select(
        F.col("b").alias("subject"), F.col("a").alias("object_value"), "n"
    )
    return (
        fwd.unionByName(bwd)
        .withColumn("predicate", F.lit(vocab.SAME_AS))
        .withColumn("object_type", F.lit("iri"))
        .withColumn("object_datatype", F.lit(None).cast("string"))
        .withColumn("object_lang", F.lit(None).cast("string"))
        .withColumn("graph", F.lit(OUTPUT_GRAPH))
        .select(*QUAD_COLUMNS, "n")
    )


def counting_ifp_enricher() -> CountingInferencer:
    """IFP enricher with ref-counted retraction (the pipeline default)."""
    return CountingInferencer(ifp_derivations)


def ifp_enricher(store: StatementStore, diff: Diff) -> Diff:
    """Stateless add-only form (monotone per batch; no retraction state)."""
    added = ifp_derivations(diff.added, store.quads, store).drop("n")
    # only new inferences (not already in the store)
    added = anti_join(added, store.quads, QUAD_COLUMNS)
    removed = store.quads.filter(F.lit(False))
    return Diff(added, removed)
