"""Operation templates for the benchmark workloads.

Each read template draws its parameters from the workload's
``random.Random`` and yields the query text the program sees, plus the
DuckDB SQL that must give the same rows over the same parquet tables.
Write templates carry what the op log needs to derive the expected end
state of the client's graph. The analytics workload runs
``__spark_entry__`` battery entries, checked against that module's own
``oracle_sql()``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Any

from datagen import N_CUSTOMER, N_EMB, SEGMENTS

EX = "http://example.org/"
TAG_PRED = EX + "benchTag"


@dataclass
class Op:
    template: str
    lang: str  # cypher | sparql | gremlin | graphql | vector | sparql_update | entry
    query: str = ""
    params: dict[str, Any] = field(default_factory=dict)
    oracle: str = ""  # DuckDB SQL (reads)
    is_write: bool = False
    effect: tuple = ()  # op-log entry for the end-state model (writes)
    vec_id: int = -1  # vector_search query: stored embedding id


# ----------------------------------------------------------------- reads


def _cy_point(rng: random.Random) -> Op:
    k = rng.randrange(N_CUSTOMER)
    return Op(
        "cy_point", "cypher",
        "MATCH (c:Customer) WHERE c.custkey = $k RETURN c.name AS name, c.acctbal AS acctbal",
        {"k": k},
        f"SELECT c_name AS name, c_acctbal AS acctbal FROM customer WHERE c_custkey = {k}",
    )


def _cy_1hop(rng: random.Random) -> Op:
    k = rng.randrange(N_CUSTOMER)
    return Op(
        "cy_1hop_count", "cypher",
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.custkey = $k RETURN count(o) AS n",
        {"k": k},
        f"SELECT count(*) AS n FROM orders WHERE o_custkey = {k}",
    )


def _cy_2hop(rng: random.Random) -> Op:
    k = rng.randrange(N_CUSTOMER)
    return Op(
        "cy_2hop_distinct", "cypher",
        "MATCH (c:Customer)-[:PLACED]->(:Order)-[:CONTAINS]->(p:Part) "
        "WHERE c.custkey = $k RETURN count(DISTINCT p) AS n",
        {"k": k},
        "SELECT count(DISTINCT l_partkey) AS n FROM orders JOIN lineitem "
        f"ON l_orderkey = o_orderkey WHERE o_custkey = {k}",
    )


def _cy_segment(rng: random.Random) -> Op:
    seg, nat = rng.choice(SEGMENTS), rng.randrange(25)
    return Op(
        "cy_segment_agg", "cypher",
        "MATCH (c:Customer) WHERE c.mktsegment = $seg AND c.nationkey = $nat "
        "RETURN count(*) AS n, sum(c.acctbal) AS total",
        {"seg": seg, "nat": nat},
        "SELECT count(*) AS n, sum(c_acctbal) AS total FROM customer "
        f"WHERE c_mktsegment = '{seg}' AND c_nationkey = {nat}",
    )


def _sparql_bgp(rng: random.Random) -> Op:
    k = rng.randrange(N_CUSTOMER)
    return Op(
        "sparql_bgp", "sparql",
        f"PREFIX ex: <{EX}> SELECT ?name ?seg WHERE "
        f"{{ <{EX}customer/{k}> ex:name ?name ; ex:mktsegment ?seg }}",
        oracle=f"SELECT c_name AS name, c_mktsegment AS seg FROM customer WHERE c_custkey = {k}",
    )


def _gremlin_out_count(rng: random.Random) -> Op:
    k = rng.randrange(N_CUSTOMER)
    return Op(
        "gremlin_out_count", "gremlin",
        f"g.V().hasLabel('Customer').has('custkey', {k}).out('PLACED').count()",
        oracle=f"SELECT count(*) AS count FROM orders WHERE o_custkey = {k}",
    )


def _graphql_filtered(rng: random.Random) -> Op:
    seg, nat = rng.choice(SEGMENTS), rng.randrange(25)
    bal = rng.randrange(8000, 9900)
    return Op(
        "graphql_filtered", "graphql",
        f'{{ Customer(mktsegment: "{seg}", nationkey: {nat}, acctbal_gt: {bal}.0) '
        "{ custkey name } }",
        oracle="SELECT c_custkey AS custkey, c_name AS name FROM customer "
        f"WHERE c_mktsegment = '{seg}' AND c_nationkey = {nat} AND c_acctbal > {bal}.0",
    )


def _vector_top10(rng: random.Random) -> Op:
    return Op("vector_top10", "vector", vec_id=rng.randrange(N_EMB))


READS = (
    _cy_point, _cy_1hop, _cy_2hop, _cy_segment,
    _sparql_bgp, _gremlin_out_count, _graphql_filtered, _vector_top10,
)


# ---------------------------------------------------------------- writes


class WriteGen:
    """Seeded write stream of one client. Tag names and inserted triple
    subjects carry the client id, so clients never touch each other's
    data; the op log it returns is what the end-state check replays."""

    # languages interleave, so the first decks of a run mix them too
    KINDS = (
        "cy_create", "sparql_insert", "cy_merge", "gremlin_addv",
        "cy_set", "sparql_delete", "cy_detach_delete",
    )

    def __init__(self, client: int, rng: random.Random) -> None:
        self.client = client
        self.rng = rng
        self.n = 0
        self.live_triples: list[str] = []

    def _tag(self) -> str:
        # a small name pool so MERGE and DELETE find existing tags
        return f"t{self.client}_{self.rng.randrange(6)}"

    def make(self, kind: str) -> Op:
        self.n += 1
        if kind == "sparql_delete" and not self.live_triples:
            kind = "sparql_insert"
        if kind == "cy_create":
            name = self._tag()
            return Op(kind, "cypher", "CREATE (t:Tag {name: $name})", {"name": name},
                      is_write=True, effect=("tag_add", name))
        if kind == "cy_merge":
            name = self._tag()
            return Op(kind, "cypher", "MERGE (t:Tag {name: $name})", {"name": name},
                      is_write=True, effect=("tag_merge", name))
        if kind == "cy_set":
            k, v = self.rng.randrange(N_CUSTOMER), self.n * 10 + self.client
            return Op(kind, "cypher",
                      "MATCH (c:Customer) WHERE c.custkey = $k SET c.bench_note = $v",
                      {"k": k, "v": v}, is_write=True, effect=("note", k, v))
        if kind == "cy_detach_delete":
            name = self._tag()
            return Op(kind, "cypher",
                      "MATCH (t:Tag) WHERE t.name = $name DETACH DELETE t",
                      {"name": name}, is_write=True, effect=("tag_del", name))
        if kind == "gremlin_addv":
            name = self._tag()
            return Op(kind, "gremlin", f"g.addV('Tag').property('name', '{name}')",
                      is_write=True, effect=("tag_add", name))
        if kind == "sparql_delete":
            s = self.live_triples.pop(self.rng.randrange(len(self.live_triples)))
            return Op(kind, "sparql_update",
                      f'DELETE DATA {{ <{s}> <{TAG_PRED}> "x" }}',
                      is_write=True, effect=("triple_del", s))
        s = f"{EX}bench/c{self.client}/{self.n}"
        self.live_triples.append(s)
        return Op("sparql_insert", "sparql_update",
                  f'INSERT DATA {{ <{s}> <{TAG_PRED}> "x" }}',
                  is_write=True, effect=("triple_add", s))


def expected_state(log: list[tuple]) -> dict:
    """End state implied by a client's applied writes, in order."""
    tags: list[str] = []
    notes: dict[int, int] = {}
    triples: set[str] = set()
    for e in log:
        if e[0] == "tag_add":
            tags.append(e[1])
        elif e[0] == "tag_merge":
            if e[1] not in tags:
                tags.append(e[1])
        elif e[0] == "tag_del":
            tags = [t for t in tags if t != e[1]]
        elif e[0] == "note":
            notes[e[1]] = e[2]
        elif e[0] == "triple_add":
            triples.add(e[1])
        elif e[0] == "triple_del":
            triples.discard(e[1])
    return {"tags": sorted(tags), "notes": notes, "triples": triples}


# ----------------------------------------------------------------- batch

# battery entry -> the layer it exercises. A pass runs each once, in a
# seeded order: one Pregel algorithm (connected components), one
# shuffle-heavy join algorithm (triangles), one path query through
# operators.expand and one Arrow-UDF LLM-pipeline entry. On 4 cores at
# sf0.1 they take ~3.5, ~1.2, ~2 and ~1.5 s. The other named entries
# (pagerank, bfs, dijkstra, label propagation, variable-length reach,
# MinHash/n-gram/SimHash dedup, decontamination) would lengthen the pass
# past what three timed passes per run allow in the run budget.
ANALYTICS = {
    "alg_wcc_sizes": "algorithms",
    "alg_triangles": "algorithms",
    "shortest_customer_part": "operators",
    "embedding_near_pairs": "llm",
}
