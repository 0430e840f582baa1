"""The workloads. Each builds its state in ``setup`` and then runs
operations until a deadline; every operation is checked against an
independent route (pure Python over the generator's records or over the
store's quads, or a row's DuckDB oracle) and a mismatch is counted, never
raised.
"""

from __future__ import annotations

import csv
import io
import json
import os
import re
import threading
import time
import xml.etree.ElementTree as ET
from contextlib import nullcontext
from dataclasses import dataclass

import gen

# catalog rows of the catalog_ops workload, in execution order
CATALOG_ROWS = (
    "q_label_propagation",
    "q_dedup_minhash_lsh",
    "q_contamination_lsh",
    "q_dedup_ngram_jaccard",
    "q_pricing_summary",
    "q_regional_revenue",
)
# default sizes; ``run.py --tiny`` swaps in TINY for quick self-tests
SIZES = {"scale": gen.Scale(), "persons": 150}
TINY = {
    "scale": gen.Scale(customers=150, suppliers=10, parts=200, orders=1500, lineitems=6000),
    "persons": 30,
}

NT_LINE = re.compile(r'^<([^>]*)> <([^>]*)> (?:<([^>]*)>|"((?:[^"\\]|\\.)*)"(?:\^\^<[^>]*>|@\S+)?) \.$')


@dataclass
class Op:
    kind: str
    latency: float
    ok: bool
    detail: str = ""


def _read_body(body) -> str:
    return body if isinstance(body, str) else "".join(body)


def _json_rows(body: str) -> list[dict]:
    return [
        {k: v["value"] for k, v in b.items()}
        for b in json.loads(body)["results"]["bindings"]
    ]


def _xml_rows(body: str) -> list[dict]:
    ns = "{http://www.w3.org/2005/sparql-results#}"
    rows = []
    for result in ET.fromstring(body).iter(ns + "result"):
        row = {}
        for binding in result.iter(ns + "binding"):
            term = next(iter(binding))
            row[binding.get("name")] = term.text
        rows.append(row)
    return rows


def _nt_triples(body: str) -> list[tuple[str, str, str]]:
    out = []
    for line in body.splitlines():
        if line.strip():
            m = NT_LINE.match(line)
            if m is None:
                raise ValueError(f"bad N-Triples line {line!r}")
            out.append((m[1], m[2], m[3] if m[3] is not None else m[4]))
    return out


# --- write path -------------------------------------------------------------------


def enrichers(tracer):
    """The enricher chain handed to EnrichmentPipeline, each callable traced
    as ``enrichers.<name>.build``; the store materialization that follows a
    call is tagged with the enricher's name."""
    from thymeflow_back_spark.enrichers.ifp import counting_ifp_enricher
    from thymeflow_back_spark.enrichers.primary_facet import primary_facet_enricher

    chain = [("ifp", counting_ifp_enricher()), ("primary_facet", primary_facet_enricher)]
    out = []
    for name, fn in chain:

        def call(store, diff, name=name, fn=fn):
            with tracer.span(f"enrichers.{name}.build") as tags:
                extra = fn(store, diff)
            tracer.last_enricher(name, extra, tags)
            return extra

        out.append(call)
    return out


# --- sparql_read --------------------------------------------------------------


class SparqlRead:
    """Closed loop of ``ctx.clients`` threads calling SparqlEndpoint.handle
    with whole cycles of the gen.MIX request mix (the last cycle a client
    starts before the deadline completes).

    Set-up runs the write path once, traced and checked: the seeded vCards
    are delivered through vcard_to_quads and EnrichmentPipeline.ingest_quads,
    a SPARQL UPDATE goes through SparqlEndpoint.handle, and one freshness
    read must see the expected sameAs / primary-facet state and the update.
    Reads then serve the store that round left."""

    FRESHNESS = (
        f"{gen.PREFIXES}SELECT ?c ?o ?k WHERE {{ {{ ?c personal:sameAs ?o . BIND(\"s\" AS ?k) }} "
        f"UNION {{ ?c personal:primaryFacet ?o . BIND(\"f\" AS ?k) }} "
        f"UNION {{ ?c personal:nickname ?o . BIND(\"n\" AS ?k) }} }}"
    )

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        from thymeflow_back_spark.rdf import vocab

        ctx = self.ctx
        customers = gen.tables(ctx.seed, ctx.sizes["scale"])["customer"]
        self.cards = gen.contacts(ctx.seed, customers, ctx.sizes["persons"])
        ctx.warmup_check(self.write_round("write-round"))
        # the served store's own quads, for the DESCRIBE and CSV expectations
        rows = self.endpoint.store.quads.select("subject", "predicate", "object_value").collect()
        self.by_subject: dict[str, list[tuple[str, str]]] = {}
        self.names = []
        for s, p, o in rows:
            self.by_subject.setdefault(s, []).append((p, o))
            if p == vocab.NAME:
                self.names.append((s, o))
        self.components = gen.components(self.cards)
        self.by_iri = {c.iri: c for c in self.cards}
        self.cycles = [
            gen.requests(ctx.seed * 31 + i, self.cards, 50) for i in range(ctx.clients)
        ]
        # warm-up: one request of each kind, checked like any other op
        warm = {r.kind: r for r in gen.requests(ctx.seed * 31 + 97, self.cards, 1)[0]}
        for kind, req in sorted(warm.items()):
            ctx.warmup_check(self.request(req, f"warm-{kind}"))

    def fresh(self, cards: list[gen.Card], nick: tuple[str, str]) -> tuple[bool, str]:
        status, _, body = self.endpoint.handle(self.FRESHNESS)
        if status != 200:
            return False, f"status {status}"
        rows = _json_rows(body)
        if (nick[0], nick[1]) not in {(r["c"], r["o"]) for r in rows if r["k"] == "n"}:
            return False, f"nickname {nick} missing"
        same = {(r["c"], r["o"]) for r in rows if r["k"] == "s"}
        want = gen.same_as_pairs(cards)
        if same != want:
            return False, f"sameAs: {len(same - want)} extra, {len(want - same)} missing"
        heads: dict[str, list[str]] = {}
        for r in rows:
            if r["k"] == "f":
                heads.setdefault(r["c"], []).append(r["o"])
        for iri, comp in gen.components(cards).items():
            got = heads.get(iri, [])
            if len(comp) == 1:
                if got:
                    return False, f"singleton {iri} has primary facet {got}"
            elif len(got) != 1 or got[0] not in comp or heads.get(got[0]) != got:
                return False, f"{iri}: primary facet {got} not one head of its class"
        return True, ""

    def write_round(self, op_id: str) -> Op:
        from thymeflow_back_spark.api.service import SparqlEndpoint
        from thymeflow_back_spark.enrichers.pipeline import EnrichmentPipeline
        from thymeflow_back_spark.operators.cachereg import release_pinned
        from thymeflow_back_spark.rdf.model import empty_quads, make_quads
        from thymeflow_back_spark.rdf.store import StatementStore
        from thymeflow_back_spark.sources.vcard import vcard_to_quads

        ctx, tr = self.ctx, self.ctx.tracer
        docs = [(c.vcf(), c.path) for c in self.cards]
        card = self.cards[0]
        nick = f"nick-{ctx.seed}"
        update = f'{gen.PREFIXES}INSERT DATA {{ <{card.iri}> personal:nickname "{nick}" }}'
        pipe = EnrichmentPipeline(StatementStore(empty_quads(ctx.spark)), enrichers(tr))
        t0 = time.perf_counter()
        with tr.op(op_id, "write.round", docs=len(docs)):
            with tr.span("sources.convert"):
                quads = [q for content, path in docs for q in vcard_to_quads(content, path)]
            with tr.span("enrichers.pipeline"):
                pipe.ingest_quads(make_quads(ctx.spark, quads))
            release_pinned()
            self.endpoint = SparqlEndpoint(pipe.store)
            with tr.span("update.apply"):
                status, _, text = self.endpoint.handle(update)
            with tr.span("write.freshness_read"):
                ok, detail = self.fresh(self.cards, (card.iri, nick))
        if status != 204:
            ok, detail = False, f"update status {status}: {text[:120]}"
        return Op("write", time.perf_counter() - t0, ok, detail)

    def request(self, req: gen.Request, op_id: str) -> Op:
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.op(op_id, "api.handle", kind=req.kind) as tags:
            status, ctype, body = self.endpoint.handle(req.text, req.accept)
            with tr.span("api.stream") if not isinstance(body, str) else nullcontext():
                text = _read_body(body)
            tags.update(status=status, body_bytes=len(text))
        latency = time.perf_counter() - t0
        ok, detail = self.check(req, status, text)
        tags["rows"] = detail.get("rows", 0) if isinstance(detail, dict) else 0
        return Op(req.kind, latency, ok, "" if ok else str(detail))

    def expected(self, req: gen.Request):
        cards = self.cards
        if req.kind == "point":
            return sorted(f"mailto:{e}" for e in self.by_iri[req.arg].emails)
        if req.kind == "bgp_filter":
            org, prefix = req.arg.split("|")
            return sorted(
                (c.iri, c.fn) for c in cards if c.org == org and c.fn.startswith(prefix)
            )
        if req.kind == "optional":
            rows = []
            for c in cards:
                if c.family == req.arg:
                    rows += [(c.iri, f"tel:{p}") for p in c.phones] or [(c.iri, None)]
            return sorted(rows, key=str)
        if req.kind == "group_count":
            counts: dict[str, int] = {}
            for c in cards:
                counts[c.org] = counts.get(c.org, 0) + 1
            return sorted(counts.items())
        if req.kind == "path":
            return sorted(
                (c.iri, x) for c in cards if c.family == req.arg for x in self.components[c.iri]
            )
        if req.kind == "ask":
            iri, value = req.arg.split("|")
            return value in self.by_iri[iri].ifp_values()
        if req.kind == "describe":
            return sorted(self.by_subject.get(req.arg, []))
        if req.kind == "construct":
            return sorted(
                {(c.iri, "http://schema.org/email", f"mailto:{e}") for c in cards if c.org == req.arg for e in c.emails}
            )
        return sorted(self.names)

    def answer(self, req: gen.Request, text: str):
        if req.kind == "point":
            return sorted(r["e"] for r in _json_rows(text))
        if req.kind == "bgp_filter":
            return sorted((r["c"], r["n"]) for r in _json_rows(text))
        if req.kind == "optional":
            return sorted(((r["c"], r.get("t")) for r in _xml_rows(text)), key=str)
        if req.kind == "group_count":
            return sorted((r["o"], int(r["k"])) for r in _json_rows(text))
        if req.kind == "path":
            return sorted((r["c"], r["x"]) for r in _json_rows(text))
        if req.kind == "ask":
            return json.loads(text)["boolean"]
        if req.kind == "describe":
            return sorted((p, o) for _, p, o in _nt_triples(text))
        if req.kind == "construct":
            return sorted(set(_nt_triples(text)))
        reader = csv.reader(io.StringIO(text))
        next(reader)
        return sorted((c, n) for c, n in reader)

    def check(self, req: gen.Request, status: int, text: str):
        if not 200 <= status < 300:
            return False, {"status": status, "body": text[:200]}
        try:
            got = self.answer(req, text)
        except (ValueError, KeyError, ET.ParseError, json.JSONDecodeError) as e:
            return False, {"error": repr(e)}
        want = self.expected(req)
        rows = 1 if isinstance(got, bool) else len(got)
        if got != want:
            return False, {"rows": rows, "want": str(want)[:200], "got": str(got)[:200]}
        return True, {"rows": rows}

    def run(self, deadline: float) -> list[Op]:
        ops: list[list[Op]] = [[] for _ in range(self.ctx.clients)]

        def client(i: int):
            n = 0
            for cycle in self.cycles[i]:
                if time.perf_counter() >= deadline:
                    break
                for req in cycle:
                    ops[i].append(self.request(req, f"c{i}-{n}"))
                    self.ctx.after_op(f"c{i}-{n}")
                    n += 1

        threads = [threading.Thread(target=client, args=(i,)) for i in range(self.ctx.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [op for client_ops in ops for op in client_ops]


# --- catalog_ops ------------------------------------------------------------------


class CatalogOps:
    """Whole passes over CATALOG_ROWS: each op builds a row with Query.spark
    and executes it in full with a noop write; pins are released after every
    row. Outputs are checked once, in set-up, against each row's DuckDB
    oracle on the same generated tables."""

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        import duckdb
        from thymeflow_back_spark import queries as catalog
        from thymeflow_back_spark.operators.cachereg import release_pinned
        from tools.check import compare

        ctx = self.ctx
        self.dir = gen.write_tables(
            os.path.join(ctx.data_dir, f"tables-{ctx.seed}"), gen.tables(ctx.seed, ctx.sizes["scale"])
        )
        con = duckdb.connect()
        for name in os.listdir(self.dir):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{self.dir}/{name}'")
        self.queries = [catalog.QUERIES[name] for name in CATALOG_ROWS]
        # warm-up pass that also checks every row against its oracle
        for q in self.queries:
            got = q.spark(ctx.spark, self.dir).toPandas()
            release_pinned()
            problems = compare(q.name, got, con.execute(q.oracle).fetchdf())
            ctx.warmup_check(Op(q.name, 0.0, not problems, "; ".join(problems)))
        con.close()

    def row(self, q, op_id: str) -> Op:
        from thymeflow_back_spark.operators.cachereg import release_pinned

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.op(op_id, f"queries.{q.name}", row=q.name):
            with tr.span(f"queries.{q.name}.build"):
                df = q.spark(self.ctx.spark, self.dir)
            with tr.span(f"queries.{q.name}.exec"):
                df.write.format("noop").mode("overwrite").save()
        latency = time.perf_counter() - t0
        release_pinned()
        return Op(q.name, latency, True)

    def run(self, deadline: float) -> list[Op]:
        ops = []
        n = 0
        while time.perf_counter() < deadline:
            for q in self.queries:  # whole passes, so every run times the same rows
                op_id = f"r-{n}"
                ops.append(self.row(q, op_id))
                self.ctx.after_op(op_id)
                n += 1
        return ops


WORKLOADS = {"sparql_read": SparqlRead, "catalog_ops": CatalogOps}
