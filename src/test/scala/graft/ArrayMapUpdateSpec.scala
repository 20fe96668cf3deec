package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.Ast._
import graft.planner.Planner
import graft.store.GraphStore

/** Ports /root/reference/tests/array_query_test.cpp (A3 fixture),
  * map/nested-path semantics (A4), and update/delete behavior (D5-D9).
  */
class ArrayMapUpdateSpec extends SparkSpec {

  test("array round-trip + empty arrays (array_query_test.cpp:137)") {
    val s = new GraphStore(spark)
    s.createSchema("Item", "name" -> StringType,
      "tags" -> ArrayType(StringType), "scores" -> ArrayType(IntegerType))
    s.createNode("Item", Map("name" -> "Alice",
      "tags" -> Seq("cpp", "rust"), "scores" -> Seq(90, 85)))
    s.createNode("Item", Map("name" -> "Bob",
      "tags" -> Seq("java", "go", "python"), "scores" -> Seq.empty[Int]))
    val res = new Planner(s).plan(
      Q.from("i:Item").select("i.name", "i.tags", "i.scores").build)
    assert(rowBag(res) === Map(
      Seq("Alice", Seq("cpp", "rust"), Seq(90, 85)) -> 1,
      Seq("Bob", Seq("java", "go", "python"), Seq()) -> 1))
  }

  test("edge schema validation: unknown prop, no-schema props, duplicate " +
      "registration (edge_store_test.cpp:191,228,252)") {
    val s = new GraphStore(spark)
    s.createSchema("U", "name" -> StringType)
    s.createEdgeSchema("works_at", "U", "U", "role" -> StringType)
    intercept[IllegalArgumentException] {
      s.createEdgeSchema("works_at", "U", "U", "role" -> StringType)
    }
    intercept[IllegalArgumentException] {
      s.connect("U", 0, "works_at", "U", 1, Map("unknown_field" -> "x"))
    }
    // props on a schema-less edge type fail; no props is fine
    intercept[IllegalArgumentException] {
      s.connect("U", 0, "friend", "U", 1, Map("weight" -> 1.0))
    }
    assert(s.connect("U", 0, "friend2", "U", 1) >= 0)
  }

  test("UPDATE APPEND accumulates; rows/fields isolated (D7)") {
    val s = new GraphStore(spark)
    s.createSchema("Item", "name" -> StringType,
      "tags" -> ArrayType(StringType))
    val a = s.createNode("Item", Map("name" -> "a", "tags" -> Seq("x")))
    val b = s.createNode("Item", Map("name" -> "b", "tags" -> Seq("y")))
    s.updateNode("Item", a, Map("tags" -> "t1"), append = Set("tags"))
    s.updateNode("Item", a, Map("tags" -> Seq("t2", "t3")),
      append = Set("tags"))
    val res = new Planner(s).plan(Q.from("i:Item")
      .select("i.name", "i.tags").build)
    assert(rowBag(res) === Map(
      Seq("a", Seq("x", "t1", "t2", "t3")) -> 1,
      Seq("b", Seq("y")) -> 1))
    // flushed rows: single and batch appends through the distributed path
    s.updateWhere("Item", org.apache.spark.sql.functions.lit(false),
      Map.empty) // forces a flush
    s.updateNode("Item", b, Map("tags" -> "t4"), append = Set("tags"))
    s.updateNode("Item", b, Map("tags" -> Seq("t5", "t6")),
      append = Set("tags"))
    val res2 = new Planner(s).plan(Q.from("i:Item")
      .select("i.name", "i.tags").build)
    assert(rowBag(res2) === Map(
      Seq("a", Seq("x", "t1", "t2", "t3")) -> 1,
      Seq("b", Seq("y", "t4", "t5", "t6")) -> 1))
  }

  test("bulk APPEND onto a null array reads back [v], unversioned and " +
      "versioned (D7)") {
    for (versioned <- Seq(false, true)) {
      val s = new GraphStore(spark, versioningEnabled = versioned)
      s.createSchema("Item", "name" -> StringType,
        "tags" -> ArrayType(StringType))
      s.createNode("Item", Map("name" -> "a", "tags" -> null))
      s.createNode("Item", Map("name" -> "b", "tags" -> Seq("x")))
      s.updateWhere("Item", org.apache.spark.sql.functions.lit(true),
        Map("tags" -> org.apache.spark.sql.functions.lit("v")),
        append = Set("tags"))
      val res = new Planner(s).plan(Q.from("i:Item")
        .select("i.name", "i.tags").build)
      assert(rowBag(res) === Map(
        Seq("a", Seq("v")) -> 1,
        Seq("b", Seq("x", "v")) -> 1), s"versioned = $versioned")
    }
  }

  test("UPDATE SET replaces array (not append)") {
    val s = new GraphStore(spark)
    s.createSchema("Item", "tags" -> ArrayType(StringType))
    val a = s.createNode("Item", Map("tags" -> Seq("x", "y")))
    s.updateNode("Item", a, Map("tags" -> Seq("z")))
    val res = new Planner(s).plan(Q.from("i:Item").select("i.tags").build)
    assert(rowBag(res) === Map(Seq(Seq("z")) -> 1))
  }

  test("MAP nested-path: predicate, projection, update (P2/F5/D5)") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType,
      "props" -> MapType(StringType, StringType))
    val u = s.createNode("User", Map("name" -> "alice",
      "props" -> Map("role" -> "admin", "score" -> "5")))
    s.createNode("User", Map("name" -> "bob",
      "props" -> Map("role" -> "user", "score" -> "9")))
    // projection + filter on nested path
    val res = new Planner(s).plan(Q.from("u:User")
      .where(ref("u.props.role") === "admin")
      .select("u.name", "u.props.role").build)
    assert(rowBag(res) === Map(Seq("alice", "admin") -> 1))
    // numeric comparison casts the map value (dominant-type analog)
    val res2 = new Planner(s).plan(Q.from("u:User")
      .where(ref("u.props.score") > 6)
      .select("u.name").build)
    assert(rowBag(res2) === Map(Seq("bob") -> 1))
    // nested-path update
    s.updateNode("User", u, Map("props.score" -> 42))
    val res3 = new Planner(s).plan(Q.from("u:User")
      .where(ref("u.props.score") > 6)
      .select("u.name").build)
    assert(rowBag(res3) === Map(Seq("alice") -> 1, Seq("bob") -> 1))
    // FLUSHED rows take the distributed rewrite path: nested MAP paths
    // must still rebuild the map column (not silently no-op / corrupt)
    s.updateWhere("User", org.apache.spark.sql.functions.lit(false),
      Map.empty) // forces a flush; false cond touches nothing
    assert(s.updateNode("User", u, Map("props.score" -> 3)))
    val res4 = new Planner(s).plan(Q.from("u:User")
      .where(ref("u.props.score") > 6).select("u.name").build)
    assert(rowBag(res4) === Map(Seq("bob") -> 1))
    assert(s.nodes("User").columns.toSeq ===
      Seq("id", "name", "props")) // no stray dotted column
    // missing id = soft failure (update_query_test.cpp:215); unknown
    // field = error (:227)
    assert(!s.updateNode("User", 999L, Map("name" -> "ghost")))
    intercept[IllegalArgumentException] {
      s.updateNode("User", u, Map("nonexistent_field" -> 1))
    }
  }

  test("DELETE node removes incident edges (D8)") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    val a = s.createNode("User", Map("name" -> "a"))
    val b = s.createNode("User", Map("name" -> "b"))
    val c = s.createNode("User", Map("name" -> "c"))
    s.connect("User", a, "friend", "User", b)
    s.connect("User", b, "friend", "User", c)
    s.deleteNode("User", b)
    assert(s.nodes("User").count() === 2)
    assert(s.edges("friend", "User", "User").count() === 0)
  }

  test("DELETE EDGE variants (D9)") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    val ids = (0 until 4).map(i => s.createNode("User", Map("name" -> s"u$i")))
    s.connect("User", ids(0), "f", "User", ids(1))
    s.connect("User", ids(0), "f", "User", ids(2))
    s.connect("User", ids(1), "f", "User", ids(2))
    s.connect("User", ids(2), "f", "User", ids(3))
    s.deleteEdges("f", "User", "User", from = Some(ids(0)))
    assert(s.edges("f", "User", "User").count() === 2)
    s.deleteEdges("f", "User", "User", from = Some(ids(1)),
      to = Some(ids(2)))
    assert(s.edges("f", "User", "User").count() === 1)
    s.deleteEdges("f", "User", "User")
    assert(s.edges("f", "User", "User").count() === 0)
  }

  test("UNIQUE edge guard (D4)") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    val a = s.createNode("User", Map("name" -> "a"))
    val b = s.createNode("User", Map("name" -> "b"))
    assert(s.connect("User", a, "f", "User", b, unique = true) >= 0)
    assert(s.connect("User", a, "f", "User", b, unique = true) === -1L)
    assert(s.edges("f", "User", "User").count() === 1)
  }

  test("UNIQUE edge guard sees flushed edges (edge_store.cpp:58)") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    val a = s.createNode("User", Map("name" -> "a"))
    val b = s.createNode("User", Map("name" -> "b"))
    val c = s.createNode("User", Map("name" -> "c"))
    assert(s.connect("User", a, "f", "User", b, unique = true) >= 0)
    // commit flushes the buffer into base — the duplicate now lives only
    // in the persisted plane
    val tmp = tmpDir("graft-uniq")
    s.commit(tmp)
    assert(s.connect("User", a, "f", "User", b, unique = true) === -1L)
    assert(s.connect("User", a, "f", "User", c, unique = true) >= 0)
    // delete then re-create must succeed (stale pair index invalidated)
    s.deleteEdges("f", "User", "User", from = Some(a), to = Some(b))
    assert(s.connect("User", a, "f", "User", b, unique = true) >= 0)
  }

  test("edge properties flow through traversal (J9 / A5)") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createSchema("Company", "name" -> StringType)
    s.createEdgeSchema("WORKS_AT", "User", "Company",
      "since" -> LongType, "role" -> StringType)
    val u = s.createNode("User", Map("name" -> "alice"))
    val c = s.createNode("Company", Map("name" -> "acme"))
    val u2 = s.createNode("User", Map("name" -> "bob"))
    s.connect("User", u, "WORKS_AT", "Company", c,
      Map("since" -> 2022L, "role" -> "eng"))
    s.connect("User", u2, "WORKS_AT", "Company", c,
      Map("since" -> 2019L, "role" -> "mgr"))
    val res = new Planner(s).plan(Q.from("u:User")
      .traverse("u", "WORKS_AT", "c:Company", edgeAlias = Some("e"))
      .where(ref("e.since") >= 2021L)
      .select("u.name", "e.since", "e.role", "c.name").build)
    assert(rowBag(res) === Map(Seq("alice", 2022L, "eng", "acme") -> 1))
  }

  test("update by match shape (D6): updateWhere on matched ids") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType, "age" -> LongType)
    s.createNode("User", Map("name" -> "a", "age" -> 70L))
    s.createNode("User", Map("name" -> "b", "age" -> 30L))
    s.updateWhere("User", col("age") > 65L,
      Map("name" -> org.apache.spark.sql.functions.lit("senior")))
    val res = new Planner(s).plan(Q.from("u:User")
      .select("u.name", "u.age").build)
    assert(rowBag(res) === Map(
      Seq("senior", 70L) -> 1, Seq("b", 30L) -> 1))
  }
}
