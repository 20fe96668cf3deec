package graft

import org.apache.spark.sql.types._

import graft.core.Ast._
import graft.core.MockClock
import graft.planner.Planner
import graft.store.GraphStore

/** Ports the semantics of /root/reference/tests/temporal_query_test.cpp
  * (T1-T6): visibility rule include/query/temporal_context.hpp:113-144,
  * update rule src/memory/node_arena.cpp:250-275, MockClock
  * include/common/clock.hpp:24-60.
  */
class TemporalSpec extends SparkSpec {

  private def fixture(): (GraphStore, MockClock) = {
    val clock = new MockClock(0L)
    val s = new GraphStore(spark, versioningEnabled = true, clock = clock)
    s.createSchema("User", "name" -> StringType, "age" -> IntegerType)
    (s, clock)
  }

  private def ageAt(s: GraphStore, snap: Option[TemporalSnapshot]): Seq[Any] =
    new Planner(s).plan(GraphQuery("u", "User",
      select = List(SelectField(FieldRef.parse("u.age"))), asOf = snap))
      .collect().toSeq.map(_.get(0))

  test("as-of valid time sees the version live at that instant") {
    val (s, clock) = fixture()
    clock.set(1000L)
    val id = s.createNode("User", Map("name" -> "alice", "age" -> 25))
    clock.set(2000L)
    assert(s.updateNode("User", id, Map("age" -> 26)))
    clock.set(3000L)
    assert(s.updateNode("User", id, Map("age" -> 27)))

    assert(ageAt(s, Some(TemporalSnapshot(validTime = 1500L))) === Seq(25))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 2500L))) === Seq(26))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 3500L))) === Seq(27))
    // current read = head version
    assert(ageAt(s, None) === Seq(27))
  }

  test("before creation: invisible") {
    val (s, clock) = fixture()
    clock.set(1000L)
    s.createNode("User", Map("name" -> "alice", "age" -> 25))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 500L))) === Seq())
  }

  test("no-op update creates no version (temporal_query_test.cpp:823)") {
    val (s, clock) = fixture()
    clock.set(1000L)
    val id = s.createNode("User", Map("name" -> "alice", "age" -> 25))
    clock.set(2000L)
    assert(!s.updateNode("User", id, Map("age" -> 25))) // same value
    // v0 must still be visible right up to "now" (no closed interval)
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 1500L))) === Seq(25))
    assert(ageAt(s, None) === Seq(25))
  }

  test("bitemporal: tx axis hides later-recorded corrections") {
    val (s, clock) = fixture()
    clock.set(1000L)
    val id = s.createNode("User", Map("name" -> "alice", "age" -> 25))
    clock.set(2000L)
    s.updateNode("User", id, Map("age" -> 26))
    // At tx=1500 the update (tx_from=2000) was not yet known
    assert(ageAt(s, Some(TemporalSnapshot(1500L, 1500L))) === Seq(25))
    // At tx=2500 it is known
    assert(ageAt(s, Some(TemporalSnapshot(2500L, 2500L))) === Seq(26))
    // Valid axis still wins for historical reads at current tx
    assert(ageAt(s, Some(TemporalSnapshot(1500L, 2500L))) === Seq(25))
  }

  test("compactVersions: reads past the valid watermark unchanged, " +
      "closed history reclaimed") {
    val (s, clock) = fixture()
    clock.set(1000L)
    val id = s.createNode("User", Map("name" -> "alice", "age" -> 25))
    clock.set(2000L)
    s.updateNode("User", id, Map("age" -> 26))
    // pre-compaction: valid history below the future watermark readable
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 1500L))) === Seq(25))
    s.compactVersions("User", 2100L)
    // everything at vt >= watermark is bit-identical
    assert(ageAt(s, None) === Seq(26))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 2500L))) === Seq(26))
    // history below the watermark is physically reclaimed (undefined)
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 1500L))) === Seq())
    // a later retroactive correction + compaction keep composing
    clock.set(4000L)
    s.updateWhere("User",
      org.apache.spark.sql.functions.col("id") === id,
      Map("age" -> org.apache.spark.sql.functions.lit(99)),
      validFrom = Some(2500L))
    assert(ageAt(s, None) === Seq(99))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 2200L))) === Seq(26))
    s.compactVersions("User", 2600L)
    assert(ageAt(s, None) === Seq(99))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 3000L))) === Seq(99))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 2200L))) === Seq())
  }

  test("multiple entities version independently") {
    val (s, clock) = fixture()
    clock.set(1000L)
    val a = s.createNode("User", Map("name" -> "a", "age" -> 1))
    val b = s.createNode("User", Map("name" -> "b", "age" -> 10))
    clock.set(2000L)
    s.updateNode("User", a, Map("age" -> 2))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 2500L)))
      .toSet === Set(2, 10))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 1500L)))
      .toSet === Set(1, 10))
  }

  test("edge existence is versioned: as-of sees deleted edges (T5)") {
    val (s, clock) = fixture()
    clock.set(1000L)
    val a = s.createNode("User", Map("name" -> "a", "age" -> 1))
    val b = s.createNode("User", Map("name" -> "b", "age" -> 2))
    s.connect("User", a, "friend", "User", b)
    clock.set(2000L)
    s.deleteEdges("friend", "User", "User", from = Some(a))
    def pairsAt(snap: Option[TemporalSnapshot]) =
      new Planner(s).plan(GraphQuery("u", "User",
        clauses = List(TraverseClause("u", "friend", None, "f", "User",
          JoinKind.Inner)),
        select = List(SelectField(FieldRef.parse("u.id")),
          SelectField(FieldRef.parse("f.id"))),
        asOf = snap)).count()
    assert(pairsAt(Some(TemporalSnapshot(validTime = 1500L))) === 1)
    assert(pairsAt(Some(TemporalSnapshot(validTime = 2500L))) === 0)
    assert(pairsAt(None) === 0) // current read
  }

  test("empty versioned table scans as empty (no missing _vt column)") {
    val (s, _) = fixture()
    assert(s.nodes("User").count() === 0)
    assert(s.nodes("User",
      Some(TemporalSnapshot(validTime = 1500L))).count() === 0)
  }

  test("updateMatched versions: history preserved, head advanced") {
    val (s, clock) = fixture()
    import org.apache.spark.sql.functions.{col, lit}
    clock.set(1000L)
    val a = s.createNode("User", Map("name" -> "a", "age" -> 1))
    s.createNode("User", Map("name" -> "b", "age" -> 10))
    clock.set(2000L)
    val ids = spark.createDataFrame(Seq(Tuple1(a))).toDF("id")
    s.updateMatched("User", ids, Map("age" -> lit(2)))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 1500L)))
      .toSet === Set(1, 10))
    assert(ageAt(s, None).toSet === Set(2, 10))
    // tx axis: at tx=1500 the matched update (tx_from=2000) is unknown
    // (reference rule: valid_to closed in place, so the old state is
    // addressable at vt < update-time — same contract as updateWhere)
    assert(ageAt(s, Some(TemporalSnapshot(1500L, 1500L)))
      .toSet === Set(1, 10))
    assert(ageAt(s, Some(TemporalSnapshot(2500L, 2500L)))
      .toSet === Set(2, 10))
  }

  test("edge property updates are versioned (T4 edge path)") {
    val (s, clock) = fixture()
    import org.apache.spark.sql.functions.{col, lit}
    s.createEdgeSchema("friend", "User", "User", "weight" -> LongType)
    clock.set(1000L)
    val a = s.createNode("User", Map("name" -> "a", "age" -> 1))
    val b = s.createNode("User", Map("name" -> "b", "age" -> 2))
    val eid = s.connect("User", a, "friend", "User", b,
      Map("weight" -> 5L))
    clock.set(2000L)
    val ids = spark.createDataFrame(Seq(Tuple1(eid))).toDF("id")
    s.updateEdgesMatched("friend", "User", "User", ids,
      Map("weight" -> lit(9L)))
    def weightAt(snap: Option[TemporalSnapshot]) =
      s.edges("friend", "User", "User", snap)
        .select("weight").collect().toSeq.map(_.getLong(0))
    assert(weightAt(Some(TemporalSnapshot(validTime = 1500L))) === Seq(5L))
    assert(weightAt(None) === Seq(9L))
    assert(weightAt(Some(TemporalSnapshot(validTime = 2500L))) === Seq(9L))
  }

  test("array append creates a version; as-of sees the pre-append array " +
      "(array_query_test.cpp:644 AppendArrayCreatesVersion)") {
    val clock = new MockClock(0L)
    val s = new GraphStore(spark, versioningEnabled = true, clock = clock)
    s.createSchema("Doc", "tags" -> ArrayType(StringType))
    clock.set(1000L)
    val id = s.createNode("Doc", Map("tags" -> Seq("a")))
    clock.set(2000L)
    assert(s.updateNode("Doc", id, Map("tags" -> "b"), append = Set("tags")))
    clock.set(3000L)
    assert(s.updateNode("Doc", id, Map("tags" -> Seq("x", "y"))))
    def tagsAt(snap: Option[TemporalSnapshot]): Seq[Seq[String]] =
      new Planner(s).plan(GraphQuery("d", "Doc",
        select = List(SelectField(FieldRef.parse("d.tags"))), asOf = snap))
        .collect().toSeq
        .map(_.getSeq[String](0).toSeq)
    assert(tagsAt(Some(TemporalSnapshot(validTime = 1500L))) ===
      Seq(Seq("a")))
    assert(tagsAt(Some(TemporalSnapshot(validTime = 2500L))) ===
      Seq(Seq("a", "b")))
    // SET after APPEND replaces and preserves history
    // (array_query_test.cpp:709 SetAfterAppendPreservesHistory)
    assert(tagsAt(None) === Seq(Seq("x", "y")))
  }

  test("no-op update on a FLUSHED row creates no version " +
      "(temporal_query_test.cpp:823, distributed path)") {
    val (s, clock) = fixture()
    clock.set(1000L)
    val id = s.createNode("User", Map("name" -> "alice", "age" -> 25))
    // flush: the update now takes the distributed rewrite path
    s.updateWhere("User", org.apache.spark.sql.functions.lit(false),
      Map.empty)
    clock.set(2000L)
    assert(!s.updateNode("User", id, Map("age" -> 25))) // same value
    assert(s.nodes("User").count() === 1) // head only, no new version
    // bulk no-op (updateWhere with an always-equal set) also versions
    // nothing
    s.updateWhere("User", org.apache.spark.sql.functions.col("id") === id,
      Map("age" -> org.apache.spark.sql.functions.lit(25)))
    assert(new Planner(s).plan(GraphQuery("u", "User",
      select = List(SelectField(FieldRef.parse("u.age")))))
      .count() === 1)
    // a REAL update still versions
    assert(s.updateNode("User", id, Map("age" -> 26)))
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 1500L))) === Seq(25))
    assert(ageAt(s, None) === Seq(26))
  }

  test("mutation chains keep plan depth bounded (periodic checkpoint)") {
    val (s, clock) = fixture()
    clock.set(1000L)
    val id = s.createNode("User", Map("name" -> "alice", "age" -> 0))
    (1 to 100).foreach { i =>
      clock.set(1000L + i)
      s.updateWhere("User",
        org.apache.spark.sql.functions.col("id") === id,
        Map("age" -> org.apache.spark.sql.functions.lit(i)))
    }
    // without lineage truncation each versioned update layers a
    // union+projection — 100 updates would yield a plan thousands of
    // lines deep and quadratic re-analysis cost
    val plan = s.nodes("User").queryExecution.logical.numberedTreeString
    assert(plan.linesIterator.size < 250, s"plan too deep:\n$plan")
    assert(ageAt(s, None) === Seq(100))
    // history survives checkpointing
    assert(ageAt(s, Some(TemporalSnapshot(validTime = 1050L))) === Seq(50))
  }

  test("mixed mutation chains keep plan depth bounded on every kernel " +
      "caller") {
    val (s, clock) = fixture()
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    s.createEdgeSchema("friend", "User", "User", "weight" -> LongType)
    clock.set(1000L)
    val ids = (0 until 30).map(i =>
      s.createNode("User", Map("name" -> s"u$i", "age" -> i)))
    ids.zip(ids.tail).foreach { case (a, b) =>
      s.connect("User", a, "friend", "User", b, Map("weight" -> 1L)) }
    (1 to 100).foreach { i =>
      clock.set(1000L + i)
      val a = ids(i % 29)
      val b = ids(i % 29 + 1)
      i % 5 match {
        case 0 => s.updateMatched("User", Seq(a).toDF("id"),
          Map("age" -> lit(i)))
        case 1 => s.updateEdgesMatched("friend", "User", "User",
          s.edges("friend", "User", "User").filter(col("src") === a)
            .select("id"), Map("weight" -> lit(i.toLong)))
        case 2 => s.deleteEdges("friend", "User", "User", from = Some(a))
        case 3 => s.deleteEdgesMatched("friend", "User", "User",
          Seq((a, b)).toDF("s", "d"))
        case _ =>
          s.deleteWhere("User", col("id") === ids(i / 5))
      }
    }
    val nodePlan = s.nodes("User").queryExecution.logical.numberedTreeString
    assert(nodePlan.linesIterator.size < 250, s"plan too deep:\n$nodePlan")
    val edgePlan = s.edges("friend", "User", "User").queryExecution.logical
      .numberedTreeString
    assert(edgePlan.linesIterator.size < 250, s"plan too deep:\n$edgePlan")
    // the last update of each survivor wins; deleted users are gone now
    // and visible before their delete
    val deleted = (4 to 99 by 5).map(i => ids(i / 5)).toSet
    assert(s.nodes("User").select("id").as[Long].collect().toSet ===
      ids.toSet -- deleted)
    assert(s.nodes("User", Some(TemporalSnapshot(validTime = 1003L)))
      .count() === 30)
  }

  test("versioned deleteEdgesMatched closes matched edges only") {
    val (s, clock) = fixture()
    import spark.implicits._
    clock.set(1000L)
    val Seq(a, b, c) = Seq("a", "b", "c").map(n =>
      s.createNode("User", Map("name" -> n, "age" -> 1)))
    Seq(a -> b, a -> c, b -> c).foreach { case (x, y) =>
      s.connect("User", x, "friend", "User", y) }
    clock.set(2000L)
    s.deleteEdgesMatched("friend", "User", "User",
      Seq((a, b), (b, c), (c, a)).toDF("s", "d"))
    def pairsAt(snap: Option[TemporalSnapshot]): Set[(Long, Long)] =
      s.edges("friend", "User", "User", snap).select("src", "dst")
        .as[(Long, Long)].collect().toSet
    assert(pairsAt(None) === Set(a -> c))
    assert(pairsAt(Some(TemporalSnapshot(validTime = 2500L))) ===
      Set(a -> c))
    assert(pairsAt(Some(TemporalSnapshot(validTime = 1500L))) ===
      Set(a -> b, a -> c, b -> c))
    // closing adds no version row: the store still holds three edges
    assert(s.edges("friend", "User", "User",
      Some(TemporalSnapshot(validTime = 1500L))).count() === 3)
  }

  test("node delete closes incident edge versions instead of dropping") {
    val (s, clock) = fixture()
    clock.set(1000L)
    val a = s.createNode("User", Map("name" -> "a", "age" -> 1))
    val b = s.createNode("User", Map("name" -> "b", "age" -> 2))
    s.connect("User", a, "friend", "User", b)
    clock.set(2000L)
    s.deleteWhere("User", org.apache.spark.sql.functions.col("id") === b)
    // edge invisible now, but still visible in the past
    assert(s.edges("friend", "User", "User").count() === 0)
    assert(s.edges("friend", "User", "User",
      Some(TemporalSnapshot(validTime = 1500L))).count() === 1)
  }
}
