"""Cypher write-clause round-trips (reference model: the mutation sections
of crates/grafeo-engine/tests/query_correctness.rs — create→match→delete→
match per language) plus EXISTS/size pattern subqueries."""

from __future__ import annotations

import pytest

from tests.conftest import KNOWS, PEOPLE, rows


@pytest.fixture()
def wdb(spark):
    """Function-scoped writable graph (mutations rebind db.graph)."""
    from grafeo_spark.engine import GrafeoSpark
    from grafeo_spark.graph import PropertyGraph

    nodes = spark.createDataFrame(PEOPLE, "id long, name string, age long, city string")
    edges = spark.createDataFrame(KNOWS, "id long, src long, dst long, since long")
    return GrafeoSpark(spark, PropertyGraph({"Person": nodes}, {"KNOWS": edges}))


# --------------------------------------------------------------------- #
# EXISTS / size pattern subqueries (read-only, plan.rs:906-967)
# --------------------------------------------------------------------- #


def test_exists_semi_join(db):
    out = rows(
        db.cypher("MATCH (p:Person) WHERE EXISTS((p)-[:KNOWS]->()) RETURN p.name AS n")
    )
    assert out == [("Alice",), ("Bob",), ("Carol",), ("Dave",), ("Eve",), ("Heidi",)]


def test_not_exists_anti_join(db):
    out = rows(
        db.cypher("MATCH (p:Person) WHERE NOT EXISTS((p)-[:KNOWS]->()) RETURN p.name AS n")
    )
    assert out == [("Frank",), ("Grace",)]


def test_exists_with_target_label_and_props(db):
    out = rows(
        db.cypher(
            "MATCH (p:Person) WHERE EXISTS((p)-[:KNOWS]->(:Person {name: 'Carol'})) "
            "RETURN p.name AS n"
        )
    )
    assert out == [("Alice",), ("Bob",)]


def test_size_pattern_in_return(db):
    out = rows(
        db.cypher("MATCH (p:Person {name: 'Alice'}) RETURN size((p)-[:KNOWS]->()) AS deg")
    )
    assert out == [(2,)]


def test_size_pattern_in_where(db):
    out = rows(
        db.cypher("MATCH (p:Person) WHERE size((p)-[:KNOWS]->()) >= 2 RETURN p.name AS n")
    )
    assert out == [("Alice",)]


def test_size_pattern_zero_for_sinks(db):
    out = dict(
        rows(db.cypher("MATCH (p:Person) RETURN p.name AS n, size((p)-[:KNOWS]->()) AS d"))
    )
    assert out["Frank"] == 0 and out["Alice"] == 2


def test_exists_combined_with_filter(db):
    out = rows(
        db.cypher(
            "MATCH (p:Person) WHERE p.age > 30 AND EXISTS((p)-[:KNOWS]->()) "
            "RETURN p.name AS n"
        )
    )
    assert out == [("Bob",), ("Carol",), ("Eve",), ("Heidi",)]


# --------------------------------------------------------------------- #
# CREATE / DELETE / SET / REMOVE / MERGE
# --------------------------------------------------------------------- #


def test_create_node_roundtrip(wdb):
    s = wdb.cypher("CREATE (n:Person {name: 'Zed', age: 21, city: 'LA'})").collect()[0]
    assert s.nodes_created == 1
    out = rows(wdb.cypher("MATCH (p:Person {name: 'Zed'}) RETURN p.age AS a, p.city AS c"))
    assert out == [(21, "LA")]
    assert wdb.cypher("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 9


def test_create_new_label(wdb):
    wdb.cypher("CREATE (c:City {name: 'Springfield', pop: 30000})")
    out = rows(wdb.cypher("MATCH (c:City) RETURN c.name AS n, c.pop AS p"))
    assert out == [("Springfield", 30000)]


def test_create_nodes_and_edge_in_one_pattern(wdb):
    s = wdb.cypher(
        "CREATE (a:Person {name: 'P1', age: 1, city: 'X'})-[:KNOWS {since: 2024}]->"
        "(b:Person {name: 'P2', age: 2, city: 'X'})"
    ).collect()[0]
    assert s.nodes_created == 2 and s.relationships_created == 1
    out = rows(
        wdb.cypher(
            "MATCH (a:Person {name: 'P1'})-[k:KNOWS]->(b) RETURN b.name AS n, k.since AS s"
        )
    )
    assert out == [("P2", 2024)]


def test_match_create_edge(wdb):
    # connect Grace (isolated) to everyone in Phoenix? -> to Alice
    s = wdb.cypher(
        "MATCH (g:Person {name: 'Grace'}), (a:Person {name: 'Alice'}) "
        "CREATE (g)-[:KNOWS {since: 2025}]->(a)"
    ).collect()[0]
    assert s.relationships_created == 1
    out = rows(wdb.cypher("MATCH (g:Person {name: 'Grace'})-[:KNOWS]->(x) RETURN x.name AS n"))
    assert out == [("Alice",)]


def test_delete_detach_roundtrip(wdb):
    s = wdb.cypher("MATCH (p:Person {name: 'Alice'}) DETACH DELETE p").collect()[0]
    assert s.nodes_deleted == 1
    assert wdb.cypher("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 7
    # her edges are gone too (1-2, 1-3, 8-1)
    assert wdb.cypher("MATCH (a)-[:KNOWS]->(b) RETURN count(*) AS n").collect()[0].n == 4


def test_delete_edge_var(wdb):
    s = wdb.cypher(
        "MATCH (a:Person {name: 'Alice'})-[k:KNOWS]->(b:Person {name: 'Bob'}) DELETE k"
    ).collect()[0]
    assert s.relationships_deleted == 1
    out = rows(wdb.cypher("MATCH (a:Person {name: 'Alice'})-[:KNOWS]->(x) RETURN x.name AS n"))
    assert out == [("Carol",)]


def test_set_property(wdb):
    s = wdb.cypher("MATCH (p:Person {name: 'Alice'}) SET p.age = 31").collect()[0]
    assert s.properties_set == 1
    assert (
        wdb.cypher("MATCH (p:Person {name: 'Alice'}) RETURN p.age AS a").collect()[0].a == 31
    )
    # others untouched
    assert (
        wdb.cypher("MATCH (p:Person {name: 'Bob'}) RETURN p.age AS a").collect()[0].a == 40
    )


def test_set_computed_property(wdb):
    wdb.cypher("MATCH (p:Person) SET p.age2 = p.age * 2")
    out = dict(rows(wdb.cypher("MATCH (p:Person) RETURN p.name AS n, p.age2 AS a")))
    assert out["Alice"] == 60 and out["Grace"] == 44


def test_remove_property(wdb):
    wdb.cypher("MATCH (p:Person {name: 'Alice'}) REMOVE p.city")
    out = dict(rows(wdb.cypher("MATCH (p:Person) RETURN p.name AS n, p.city AS c")))
    assert out["Alice"] is None and out["Bob"] == "LA"


def test_set_merge_properties(wdb):
    """SET n += {map} (MergeProperties, cypher/ast.rs:323): listed keys
    set — computed values allowed — everything else untouched."""
    wdb.cypher(
        "MATCH (p:Person {name: 'Alice'}) SET p += {age: p.age + 1, vip: true}"
    )
    r = wdb.cypher(
        "MATCH (p:Person {name: 'Alice'}) "
        "RETURN p.age AS a, p.vip AS v, p.city AS c"
    ).collect()[0]
    assert (r.a, r.v, r.c) == (31, True, "NYC")
    # unmatched rows keep their values; new column is null for them
    other = wdb.cypher(
        "MATCH (p:Person {name: 'Bob'}) RETURN p.age AS a, p.vip AS v"
    ).collect()[0]
    assert other.a == 40 and other.v is None


def test_set_all_properties(wdb):
    """SET n = {map} (AllProperties, cypher/ast.rs:316): the property map
    is REPLACED — unlisted properties null out on the matched rows."""
    wdb.cypher("MATCH (p:Person {name: 'Carol'}) SET p = {name: 'Carol', age: 36}")
    r = wdb.cypher(
        "MATCH (p:Person {name: 'Carol'}) RETURN p.age AS a, p.city AS c"
    ).collect()[0]
    assert r.a == 36 and r.c is None
    # other rows keep their full map
    other = wdb.cypher(
        "MATCH (p:Person {name: 'Dave'}) RETURN p.city AS c"
    ).collect()[0]
    assert other.c == "Chicago"


def test_set_and_remove_label(wdb):
    wdb.cypher("MATCH (p:Person) WHERE p.age >= 40 SET p:Senior")
    out = rows(wdb.cypher("MATCH (s:Senior) RETURN s.name AS n"))
    assert out == [("Bob",), ("Eve",), ("Frank",)]
    wdb.cypher("MATCH (s:Senior {name: 'Bob'}) REMOVE s:Senior")
    out = rows(wdb.cypher("MATCH (s:Senior) RETURN s.name AS n"))
    assert out == [("Eve",), ("Frank",)]
    # still a Person
    assert wdb.cypher("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 8


def test_merge_node_matches_existing(wdb):
    s = wdb.cypher("MERGE (p:Person {name: 'Alice'})").collect()[0]
    assert s.nodes_created == 0
    assert wdb.cypher("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 8


def test_merge_node_creates_missing(wdb):
    s = wdb.cypher("MERGE (p:Person {name: 'Nobody'})").collect()[0]
    assert s.nodes_created == 1
    assert wdb.cypher("MATCH (p:Person) RETURN count(*) AS n").collect()[0].n == 9


def test_merge_on_create_on_match(wdb):
    wdb.cypher(
        "MERGE (p:Person {name: 'Alice'}) ON CREATE SET p.flag = 'new' "
        "ON MATCH SET p.flag = 'seen'"
    )
    assert (
        wdb.cypher("MATCH (p:Person {name: 'Alice'}) RETURN p.flag AS f").collect()[0].f
        == "seen"
    )
    wdb.cypher(
        "MERGE (p:Person {name: 'Newbie'}) ON CREATE SET p.flag = 'new' "
        "ON MATCH SET p.flag = 'seen'"
    )
    assert (
        wdb.cypher("MATCH (p:Person {name: 'Newbie'}) RETURN p.flag AS f").collect()[0].f
        == "new"
    )


def test_merge_edge_idempotent(wdb):
    q = (
        "MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) "
        "MERGE (a)-[:KNOWS]->(b)"
    )
    s1 = wdb.cypher(q).collect()[0]
    assert s1.relationships_created == 0  # already exists
    q2 = (
        "MATCH (a:Person {name: 'Grace'}), (b:Person {name: 'Heidi'}) "
        "MERGE (a)-[:KNOWS]->(b)"
    )
    assert wdb.cypher(q2).collect()[0].relationships_created == 1
    assert wdb.cypher(q2).collect()[0].relationships_created == 0  # idempotent


def test_create_per_match_row(wdb):
    s = wdb.cypher(
        "MATCH (p:Person {city: 'NYC'}) CREATE (s:Shadow {of: p.name})"
    ).collect()[0]
    assert s.nodes_created == 3
    out = rows(wdb.cypher("MATCH (s:Shadow) RETURN s.of AS n"))
    assert out == [("Alice",), ("Carol",), ("Frank",)]


def test_merge_per_binding_row(wdb):
    # round-2 advice: MERGE evaluated against the MATCH binding frame —
    # one Tag per distinct city, idempotent on re-run
    s = wdb.cypher("MATCH (p:Person) MERGE (t:City {name: p.city})").collect()[0]
    assert s.nodes_created == 5  # NYC, LA, Chicago, Phoenix, Houston
    s2 = wdb.cypher("MATCH (p:Person) MERGE (t:City {name: p.city})").collect()[0]
    assert s2.nodes_created == 0
    out = rows(wdb.cypher("MATCH (t:City) RETURN t.name AS n"))
    assert out == [("Chicago",), ("Houston",), ("LA",), ("NYC",), ("Phoenix",)]


def test_create_return(wdb):
    out = wdb.cypher(
        "CREATE (n:Person {name: 'Zed', age: 21, city: 'LA'}) "
        "RETURN n.name AS name, n.age AS age"
    ).collect()
    assert [(r.name, r.age) for r in out] == [("Zed", 21)]


def test_set_return_sees_post_write(wdb):
    out = wdb.cypher(
        "MATCH (p:Person {name: 'Alice'}) SET p.age = 31 RETURN p.age AS age"
    ).collect()
    assert [r.age for r in out] == [31]


def test_create_return_aggregate(wdb):
    out = wdb.cypher(
        "MATCH (p:Person {city: 'NYC'}) CREATE (s:Shadow {of: p.name}) "
        "RETURN count(*) AS n"
    ).collect()
    assert out[0].n == 3


def test_multi_label_create(wdb):
    wdb.cypher("CREATE (n:Admin:Person {name: 'Root', age: 1, city: 'NYC'})")
    assert rows(wdb.cypher("MATCH (a:Admin) RETURN a.name AS n")) == [("Root",)]
    out = rows(wdb.cypher("MATCH (p:Person {name: 'Root'}) RETURN p.age AS a"))
    assert out == [(1,)]


def test_gql_insert_is_create(spark, social):
    """GQL-standard INSERT (gql/ast.rs Insert; gql_translator.rs:908
    lowers to CreateNode) — a synonym for CREATE."""
    from grafeo_spark.engine import GrafeoSpark

    db = GrafeoSpark(spark, social)
    db.gql("INSERT (:Person {name: 'Zed', age: 20})")
    assert db.graph.nodes("Person").count() == 9
    assert db.cypher(
        "MATCH (p:Person {name: 'Zed'}) RETURN count(*) AS n"
    ).collect()[0].n == 1


def test_set_empty_map_forms(wdb):
    """SET n += {} is a legal no-op; SET n = {} nulls every other
    property but keeps the row (r6 ADVICE: both crashed in groupBy.agg)."""
    wdb.cypher("MATCH (p:Person) WHERE p.name = 'Alice' SET p += {}")
    r = wdb.cypher(
        "MATCH (p:Person) WHERE p.name = 'Alice' RETURN p.name AS n, p.age AS a"
    ).collect()[0]
    assert (r.n, r.a) == ("Alice", 30)
    wdb.cypher("MATCH (p:Person) WHERE p.age = 40 SET p = {}")
    rows2 = wdb.cypher(
        "MATCH (p:Person) WHERE p.name IS NULL RETURN count(*) AS c"
    ).collect()
    assert rows2[0].c == 1


def test_set_param_map(wdb):
    """SET n += $props with a map-valued parameter (r6 ADVICE)."""
    wdb.cypher(
        "MATCH (p:Person) WHERE p.name = 'Carol' SET p += $props",
        params={"props": {"age": 36, "title": "dr"}},
    )
    r = wdb.cypher(
        "MATCH (p:Person) WHERE p.name = 'Carol' RETURN p.age AS a, p.title AS t"
    ).collect()[0]
    assert (r.a, r.t) == (36, "dr")


def test_set_replace_counts_nulled_properties(wdb):
    """openCypher-style counters: the replace form SET n = {map} counts the
    OTHER property columns it nulls on matched rows as properties_set, not
    just the keys written (r7 ADVICE: SET n = {} reported 0)."""
    # Person frame has 3 non-id property columns (name, age, city).
    # Replace with an empty map: 0 keys written, 3 columns nulled, 1 row.
    s = wdb.cypher("MATCH (p:Person) WHERE p.name = 'Grace' SET p = {}").collect()[0]
    assert s.properties_set == 3
    # Replace with 2 keys: 2 written + 1 nulled (city) on 1 row.
    s2 = wdb.cypher(
        "MATCH (p:Person) WHERE p.name IS NULL SET p = {name: 'Grace', age: 23}"
    ).collect()[0]
    assert s2.properties_set == 3
    # += stays key-count-only: 1 key on 1 row.
    s3 = wdb.cypher(
        "MATCH (p:Person {name: 'Grace'}) SET p += {age: 24}"
    ).collect()[0]
    assert s3.properties_set == 1


def test_create_counts_properties_set(wdb):
    """openCypher counters: properties written on CREATEd nodes and
    relationships count in properties_set."""
    s = wdb.cypher(
        "CREATE (a:Tag {name: 'x', weight: 2})-[:REL {since: 1}]->(b:Tag {name: 'y'})"
    ).collect()[0]
    assert s.nodes_created == 2 and s.relationships_created == 1
    assert s.properties_set == 4  # 2 + 1 node props + 1 rel prop


# --------------------------------------------------------------------- #
# round 11: MERGE relationship ON CREATE / ON MATCH (merge.rs:1-18) —
# previously the edge arm silently ignored both SET lists
# --------------------------------------------------------------------- #


def test_merge_edge_on_create_sets_property(wdb):
    # Bob->Alice does not exist: created with the ON CREATE property
    wdb.cypher(
        "MATCH (a:Person {name: 'Bob'}), (b:Person {name: 'Alice'}) "
        "MERGE (a)-[r:KNOWS]->(b) ON CREATE SET r.since = 2024"
    ).collect()
    out = rows(
        wdb.cypher(
            "MATCH (a:Person {name: 'Bob'})-[r:KNOWS]->(b:Person {name: 'Alice'}) "
            "RETURN r.since AS s"
        )
    )
    assert out == [(2024,)]


def test_merge_edge_on_match_updates_property(wdb):
    # Alice->Bob exists (since 2015): ON MATCH rewrites it, ON CREATE no-ops
    wdb.cypher(
        "MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) "
        "MERGE (a)-[r:KNOWS]->(b) ON CREATE SET r.since = 2024 "
        "ON MATCH SET r.since = 1999, r.matched = true"
    ).collect()
    out = rows(
        wdb.cypher(
            "MATCH (a:Person {name: 'Alice'})-[r:KNOWS]->(b:Person {name: 'Bob'}) "
            "RETURN r.since AS s, r.matched AS m"
        )
    )
    assert out == [(1999, True)]
    # other edges untouched by the ON MATCH rewrite
    others = rows(
        wdb.cypher(
            "MATCH (a)-[r:KNOWS]->(b) WHERE r.matched IS NULL "
            "RETURN count(*) AS c"
        )
    )
    assert others == [(len(KNOWS) - 1,)]


def test_merge_edge_inline_props_with_on_match(wdb):
    """MERGE rel with inline props + ON MATCH SET must not duplicate the
    inline-prop columns onto the stored edge frame (r11 ADVICE high:
    `hit` carried `since` from the pattern, and the next MATCH threw
    AMBIGUOUS_REFERENCE)."""
    wdb.cypher(
        "MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) "
        "MERGE (a)-[r:KNOWS {since: 2015}]->(b) ON MATCH SET r.matched = true"
    ).collect()
    # the stored frame is still queryable — no ambiguous `since`
    out = rows(
        wdb.cypher(
            "MATCH (a:Person {name: 'Alice'})-[r:KNOWS]->(b:Person {name: 'Bob'}) "
            "RETURN r.since AS s, r.matched AS m"
        )
    )
    assert out == [(2015, True)]
    # and a second unrelated MATCH over the edge type also works
    total = rows(wdb.cypher("MATCH ()-[r:KNOWS]->() RETURN count(*) AS c"))
    assert total == [(len(KNOWS),)]


# --------------------------------------------------------------------- #
# write cost: the carried id mark, job-free literal writes, one delta
# per frame
# --------------------------------------------------------------------- #


def _jobs(spark, fn):
    """(Spark jobs ``fn`` launched, its result), counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = "write-jobs-" + uuid.uuid4().hex
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _plan_nodes(df) -> int:
    tree = df._jdf.queryExecution().analyzed().numberedTreeString()
    return sum(1 for line in tree.splitlines() if line[:1].isdigit())


def test_literal_writes_run_no_jobs_once_the_id_mark_is_known(wdb, spark):
    wdb.graph.next_node_id()  # the one scan a graph lineage pays
    n, _ = _jobs(spark, lambda: wdb.cypher("CREATE (t:Tag {name: $n})", {"n": "a"}))
    assert n == 0
    n, _ = _jobs(spark, lambda: wdb.gremlin("g.addV('Tag').property('name', 'b')"))
    assert n == 0
    for name in ("a", "c"):  # a hit, then a miss
        n, _ = _jobs(spark, lambda: wdb.cypher("MERGE (t:Tag {name: $n})", {"n": name}))
        assert n <= 1
    n, _ = _jobs(spark, lambda: wdb.cypher("MERGE (p:Person {name: 'Alice'})"))
    assert n <= 1
    assert rows(wdb.cypher("MATCH (t:Tag) RETURN t.name AS n")) == [("a",), ("b",), ("c",)]
    assert rows(wdb.cypher("MATCH (p:Person) RETURN count(*) AS n")) == [(8,)]


def test_point_read_plan_keeps_its_size_after_many_writes(wdb):
    point = "MATCH (p:Person) WHERE p.name = 'Alice' RETURN p.age AS age"
    wdb.cypher("CREATE (p:Person {name: 'w0', age: 0})")
    after_one = _plan_nodes(wdb.cypher(point))
    alive = {"w0"}
    for i in range(1, 20):
        if i % 4 == 0:
            wdb.cypher("CREATE (p:Person {name: $n, age: $i})", {"n": f"w{i}", "i": i})
            alive.add(f"w{i}")
        elif i % 4 == 1:
            wdb.cypher("MERGE (p:Person {name: $n})", {"n": f"m{i}"})
            alive.add(f"m{i}")
        elif i % 4 == 2:
            wdb.cypher(
                "MATCH (p:Person) WHERE p.name = 'Alice' SET p.age = $i", {"i": i}
            )
        else:
            wdb.cypher(
                "MATCH (p:Person) WHERE p.name = $n DETACH DELETE p", {"n": f"w{i - 3}"}
            )
            alive.discard(f"w{i - 3}")
    assert _plan_nodes(wdb.cypher(point)) == after_one
    assert rows(wdb.cypher(point)) == [(18,)]
    names = {r[0] for r in wdb.cypher("MATCH (p:Person) RETURN p.name AS n").collect()}
    assert names == {p[1] for p in PEOPLE} | alive


def test_ids_stay_unique_across_paths_rollback_and_delete(wdb):
    wdb.cypher("CREATE (t:Tag {name: 'c1'})")
    wdb.cypher("MERGE (t:Tag {name: 'm1'})")
    wdb.gremlin("g.addV('Tag').property('name', 'g1')")
    wdb.graphql('mutation { createTag(name: "q1") { id } }')
    wdb.create_node("Tag", {"name": "d1"})
    tx = wdb.begin_transaction()
    tx.cypher("CREATE (t:Tag {name: 'tx'})")
    tx.rollback()
    wdb.cypher("CREATE (t:Tag {name: 'c2'})")

    def ids():
        return {
            r[0]: r[1]
            for r in wdb.cypher("MATCH (t:Tag) RETURN t.name AS n, id(t) AS i").collect()
        }

    tags = ids()
    assert set(tags) == {"c1", "m1", "g1", "q1", "d1", "c2"}
    assert len(set(tags.values())) == len(tags)
    assert not set(tags.values()) & {p[0] for p in PEOPLE}
    top = max(tags.values())
    wdb.cypher("MATCH (t:Tag) WHERE id(t) = $i DETACH DELETE t", {"i": top})
    wdb.cypher("CREATE (t:Tag {name: 'c3'})")
    after = ids()
    assert top not in after.values() and after["c3"] > top
