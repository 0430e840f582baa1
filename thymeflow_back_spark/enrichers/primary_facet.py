"""Primary-facet election: head of each sameAs equivalence class.

Parity with reference PrimaryFacetEnricher.scala:18-108: expand the sameAs
closure into equivalence classes (connected components), order each class's
facets by their number of descriptive triples (desc), head becomes the
class's primary facet; every member gets a primaryFacet edge to the head.
Tie-break by facet IRI for determinism (window rank, SURVEY.md §2.6).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.closure import connected_components
from ..rdf import vocab
from ..rdf.model import QUAD_COLUMNS
from ..rdf.store import Diff, StatementStore, anti_join

OUTPUT_GRAPH = "urn:graph:primaryFacet"


def primary_facet_enricher(store: StatementStore, diff: Diff) -> Diff:
    sameas = store.quads.filter(
        (F.col("predicate") == vocab.SAME_AS) & (F.col("object_type") == "iri")
    ).select(F.col("subject").alias("src"), F.col("object_value").alias("dst"))
    if sameas.isEmpty():
        empty = store.quads.filter(F.lit(False))
        return Diff(empty, empty)

    comps = connected_components(sameas)  # (node, component)
    # descriptive-triple count per facet (triples with the facet as subject)
    desc_counts = (
        store.quads.groupBy(F.col("subject").alias("node"))
        .agg(F.count("*").alias("n_desc"))
    )
    ranked = (
        comps.join(desc_counts, "node", "left")
        .withColumn("n_desc", F.coalesce(F.col("n_desc"), F.lit(0)))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(F.desc("n_desc"), F.asc("node"))
            ),
        )
    )
    heads = ranked.filter(F.col("rk") == 1).select(
        "component", F.col("node").alias("head")
    )
    edges = (
        ranked.join(heads, "component")
        .select(
            F.col("node").alias("subject"),
            F.lit(vocab.PRIMARY_FACET).alias("predicate"),
            F.col("head").alias("object_value"),
            F.lit("iri").alias("object_type"),
            F.lit(None).cast("string").alias("object_datatype"),
            F.lit(None).cast("string").alias("object_lang"),
            F.lit(OUTPUT_GRAPH).alias("graph"),
        )
        .select(*QUAD_COLUMNS)
    )
    # replace the enricher graph wholesale: remove stale elections, add fresh
    current = store.graph(OUTPUT_GRAPH)
    added = anti_join(edges, current, QUAD_COLUMNS)
    removed = anti_join(current, edges, QUAD_COLUMNS)
    return Diff(added, removed)
