"""Seeded inputs for the benchmark: tables, vCard contacts and SPARQL
request mixes.

Everything here is pure Python/NumPy and depends only on the seed, so the
same seed gives byte-identical inputs. The program under test only ever sees
what these functions return (parquet files, vCard bytes, SPARQL text).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en"] * 9 + ["de", "de", "es", "es", "fr", "fr", "zh", "zh"]
FAMILIES = [
    "Adams", "Baker", "Clark", "Dubois", "Evans", "Fischer", "Garcia", "Hughes",
    "Ivanov", "Jones", "Keller", "Lopez", "Martin", "Nguyen", "Ortiz", "Petit",
]
GIVENS = ["Ada", "Ben", "Chloe", "Dan", "Eve", "Finn", "Gia", "Hugo", "Iris", "Jon"]
EMB_DIMS = 64


# --- catalog tables ------------------------------------------------------------


@dataclass(frozen=True)
class Scale:
    """Row counts of the generated tables (TPC-H-shaped, sf0.01 by default)."""

    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    lineitems: int = 60000
    documents: int = 500
    embeddings: int = 500


def _timestamps(rng: np.random.Generator, n: int, start: str, days: int) -> pd.Series:
    base = np.datetime64(start, "D")
    return pd.Series(base + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 80))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, EMB_DIMS))
    vecs = centers[labels] * 0.15 + rng.normal(size=(n, EMB_DIMS))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": labels,
        }
    )


def tables(seed: int, scale: Scale = Scale()) -> dict[str, pd.DataFrame]:
    """The catalog's input tables, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    s = scale
    price = rng.integers(90_000, 10_500_000, s.lineitems) / 100.0
    out = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(s.customers, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
                "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
                "c_acctbal": rng.integers(-99_999, 999_999, s.customers) / 100.0,
                "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, s.customers)],
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
                "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
                "s_acctbal": rng.integers(-99_999, 999_999, s.suppliers) / 100.0,
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(s.parts, dtype=np.int64),
                "p_name": [f"part {i}" for i in range(s.parts)],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, s.parts)],
                "p_type": [["ECONOMY", "STANDARD", "PROMO"][j] for j in rng.integers(0, 3, s.parts)],
                "p_size": rng.integers(1, 51, s.parts).astype(np.int32),
                "p_retailprice": rng.integers(90_000, 200_000, s.parts) / 100.0,
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(s.orders, dtype=np.int64),
                "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
                "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, s.orders)],
                "o_totalprice": rng.integers(100_000, 50_000_000, s.orders) / 100.0,
                "o_orderdate": _timestamps(rng, s.orders, "1995-01-01", 2400),
                "o_orderpriority": [
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][j]
                    for j in rng.integers(0, 5, s.orders)
                ],
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, s.orders, s.lineitems).astype(np.int64),
                "l_partkey": rng.integers(0, s.parts, s.lineitems).astype(np.int64),
                "l_suppkey": rng.integers(0, s.suppliers, s.lineitems).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, s.lineitems).astype(np.int32),
                "l_quantity": rng.integers(1, 51, s.lineitems).astype(np.float64),
                "l_extendedprice": price,
                "l_discount": rng.integers(0, 11, s.lineitems) / 100.0,
                "l_tax": rng.integers(0, 9, s.lineitems) / 100.0,
                "l_returnflag": [["A", "N", "R"][j] for j in rng.integers(0, 3, s.lineitems)],
                "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, s.lineitems)],
                "l_shipdate": _timestamps(rng, s.lineitems, "1995-01-02", 2500),
            }
        ),
        "documents": _documents(rng, s.documents),
        "embeddings": _embeddings(rng, s.embeddings),
    }
    # the catalog also loads these; they are never read by the bench rows
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(10, dtype=np.int64),
            "ts": _timestamps(rng, 10, "2024-01-01", 30),
            "user_id": np.arange(10, dtype=np.int64),
            "event_type": ["click"] * 10,
            "value": np.ones(10),
            "props": ['{"k": 1}'] * 10,
        }
    )
    return out


def write_tables(directory: str, frames: dict[str, pd.DataFrame]) -> str:
    os.makedirs(directory, exist_ok=True)
    for name, df in frames.items():
        df.to_parquet(os.path.join(directory, f"{name}.parquet"), index=False)
    return directory


# --- vCard contacts ----------------------------------------------------------------


@dataclass(frozen=True)
class Card:
    """One vCard document. ``emails``/``phones`` hold normalized values."""

    uid: str
    given: str
    family: str
    org: str
    country: str
    emails: tuple[str, ...]
    phones: tuple[str, ...]

    @property
    def iri(self) -> str:
        return f"urn:contact:{self.uid}"

    @property
    def path(self) -> str:
        return f"contacts/{self.uid}.vcf"

    @property
    def fn(self) -> str:
        return f"{self.given} {self.family}"

    def vcf(self) -> bytes:
        lines = [
            "BEGIN:VCARD",
            "VERSION:4.0",
            f"UID:{self.uid}",
            f"FN:{self.fn}",
            f"N:{self.family};{self.given};;;",
            f"ORG:{self.org}",
        ]
        lines += [f"EMAIL:{e}" for e in self.emails]
        lines += [f"TEL;TYPE=cell:{p}" for p in self.phones]
        lines.append(f"ADR:;;;;;;{self.country}")
        lines.append("END:VCARD")
        return ("\r\n".join(lines) + "\r\n").encode()

    def ifp_values(self) -> set[str]:
        return {f"mailto:{e}" for e in self.emails} | {f"tel:{p}" for p in self.phones}


# Cards per person, cycled over the picked persons, and which shared
# identifiers each card carries (email, phone). Card 0 of a multi-card person
# carries both, so every person's cards form one small sameAs component. The
# shape is the same for every seed (the star-CC round count depends on it);
# the seed picks the customers, hence names, organizations and countries.
CARDS_PER_PERSON = (1, 1, 2, 2, 3, 4)
CARD_IDS = ((True, True), (True, False), (False, True), (True, False))


def _person_cards(cust, n_cards: int) -> list[Card]:
    """The vCards of one person; card 1 also holds a private address."""
    key = int(cust["c_custkey"])
    cards = []
    for i in range(n_cards):
        has_email, has_phone = (True, False) if n_cards == 1 else CARD_IDS[i]
        emails = (f"p{key}@mail.example",) if has_email else ()
        if i == 1:
            emails += (f"p{key}.{i}@work.example",)
        cards.append(
            Card(
                uid=f"c{key}-{i}",
                given=GIVENS[key % len(GIVENS)],
                family=FAMILIES[(key // len(GIVENS)) % len(FAMILIES)],
                org=str(cust["c_mktsegment"]),
                country=f"NATION_{int(cust['c_nationkey'])}",
                emails=emails,
                phones=(f"+1555{key:07d}",) if has_phone else (),
            )
        )
    return cards


def contacts(seed: int, customers: pd.DataFrame, persons: int) -> list[Card]:
    """vCards for ``persons`` customers picked by ``seed``."""
    picked = sorted(random.Random(seed).sample(range(len(customers)), persons))
    cards: list[Card] = []
    for n, idx in enumerate(picked):
        cards += _person_cards(customers.iloc[idx], CARDS_PER_PERSON[n % len(CARDS_PER_PERSON)])
    return cards


# --- expected identity state (pure Python over the records) -------------------------


def same_as_pairs(cards: list[Card]) -> set[tuple[str, str]]:
    """Ordered card pairs sharing any inverse-functional value (IFP rule)."""
    by_value: dict[str, list[str]] = {}
    for c in cards:
        for v in c.ifp_values():
            by_value.setdefault(v, []).append(c.iri)
    pairs = set()
    for iris in by_value.values():
        for a in iris:
            for b in iris:
                if a != b:
                    pairs.add((a, b))
    return pairs


def components(cards: list[Card]) -> dict[str, frozenset[str]]:
    """Card IRI -> its sameAs component (itself alone when unconnected)."""
    parent = {c.iri: c.iri for c in cards}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in same_as_pairs(cards):
        parent[find(a)] = find(b)
    groups: dict[str, set[str]] = {}
    for iri in parent:
        groups.setdefault(find(iri), set()).add(iri)
    return {iri: frozenset(groups[find(iri)]) for iri in parent}


# --- SPARQL request mix ----------------------------------------------------------

PREFIXES = "PREFIX schema: <http://schema.org/> PREFIX personal: <urn:personal:> "

# One cycle of the request mix: each request kind once, in a fixed order.
# No measured PKB query log gives the share of each kind, so every kind gets
# an equal share; the shares are an assumption, not observed traffic. Every
# client runs whole cycles, so each run times the same share of every kind,
# and clients started together run the same kinds side by side. The seed
# picks the parameters.
MIX = (
    "point", "bgp_filter", "optional", "group_count", "path",
    "ask", "describe", "construct", "csv_large",
)


@dataclass(frozen=True)
class Request:
    kind: str
    text: str
    accept: str
    arg: str  # the bound parameter the expected answer depends on


def requests(seed: int, cards: list[Card], cycles: int) -> list[list[Request]]:
    """``cycles`` cycles of MIX with parameters drawn from ``cards`` by the
    seed."""
    rng = random.Random(seed * 104729 + 3)
    out: list[list[Request]] = []
    for _ in range(cycles):
        cycle: list[Request] = []
        out.append(cycle)
        for kind in MIX:
            card = rng.choice(cards)
            if kind == "point":
                req = Request(kind, f"{PREFIXES}SELECT ?e WHERE {{ <{card.iri}> schema:email ?e }}",
                              "application/sparql-results+json", card.iri)
            elif kind == "bgp_filter":
                prefix = card.given[:2]
                req = Request(
                    kind,
                    f"{PREFIXES}SELECT ?c ?n WHERE {{ ?c a schema:Person ; schema:name ?n ; "
                    f'personal:organization "{card.org}" . FILTER(STRSTARTS(?n, "{prefix}")) }}',
                    "application/sparql-results+json", f"{card.org}|{prefix}")
            elif kind == "optional":
                req = Request(
                    kind,
                    f'{PREFIXES}SELECT ?c ?t WHERE {{ ?c schema:familyName "{card.family}" . '
                    f"OPTIONAL {{ ?c schema:telephone ?t }} }}",
                    "application/sparql-results+xml", card.family)
            elif kind == "group_count":
                req = Request(
                    kind,
                    f"{PREFIXES}SELECT ?o (COUNT(?c) AS ?k) WHERE {{ ?c personal:organization ?o }} "
                    "GROUP BY ?o",
                    "application/sparql-results+json", "")
            elif kind == "path":
                # ?c is bound by a pattern, not a constant, so the symmetric
                # closure compiles to star connected components
                req = Request(
                    kind,
                    f'{PREFIXES}SELECT ?c ?x WHERE {{ ?c schema:familyName "{card.family}" . '
                    f"?c (personal:sameAs|^personal:sameAs)* ?x }}",
                    "application/sparql-results+json", card.family)
            elif kind == "ask":
                value = rng.choice(sorted(card.ifp_values())) if rng.random() < 0.5 else "mailto:nobody@x.example"
                pred = "schema:email" if value.startswith("mailto:") else "schema:telephone"
                req = Request(kind, f"{PREFIXES}ASK {{ <{card.iri}> {pred} <{value}> }}",
                              "application/sparql-results+json", f"{card.iri}|{value}")
            elif kind == "describe":
                req = Request(kind, f"DESCRIBE <{card.iri}>", "application/n-triples", card.iri)
            elif kind == "construct":
                req = Request(
                    kind,
                    f"{PREFIXES}CONSTRUCT {{ ?c schema:email ?e }} WHERE {{ ?c personal:organization "
                    f'"{card.org}" ; schema:email ?e }}',
                    "application/n-triples", card.org)
            else:
                req = Request(kind, f"{PREFIXES}SELECT ?c ?n WHERE {{ ?c schema:name ?n }}",
                              "text/csv", "")
            cycle.append(req)
    return out
