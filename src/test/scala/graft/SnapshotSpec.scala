package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._

import graft.core.Ast._
import graft.planner.Planner
import graft.store.GraphStore

/** Ports /root/reference/tests/snapshot_test.cpp semantics: commit/restore
  * round-trip incl. id counters (S4/S5/D10,
  * src/storage/snapshot_manager.cpp:315 / :26).
  */
class SnapshotSpec extends SparkSpec {

  test("CREATE after attachNodes continues from max attached id") {
    val s = new GraphStore(spark)
    import spark.implicits._
    s.attachNodes("User",
      Seq((10L, "a"), (42L, "b")).toDF("uid", "name"), "uid")
    // the counter must seed from max(id)+1, not restart at 0 (which
    // would silently re-issue id 10/42's namespace)
    assert(s.createNode("User", Map("name" -> "c")) === 43L)
    assert(s.createNode("User", Map("name" -> "d")) === 44L)
  }

  test("commit + restore round-trips nodes, edges, schemas, counters") {
    val dir = tmpDir("graft-snap")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType, "age" -> LongType)
    s.createSchema("Company", "name" -> StringType)
    s.createEdgeSchema("WORKS_AT", "User", "Company", "since" -> LongType)
    val u0 = s.createNode("User", Map("name" -> "alice", "age" -> 30L))
    val u1 = s.createNode("User", Map("name" -> "bob", "age" -> 40L))
    val c0 = s.createNode("Company", Map("name" -> "acme"))
    s.connect("User", u0, "WORKS_AT", "Company", c0, Map("since" -> 2020L))
    s.commit(dir)

    val r = GraphStore.restore(spark, dir)
    assert(rowBag(r.nodes("User")) ===
      Map(Seq(0L, "alice", 30L) -> 1, Seq(1L, "bob", 40L) -> 1))
    assert(r.nodes("Company").count() === 1)
    val res = new Planner(r).plan(Q.from("u:User")
      .traverse("u", "WORKS_AT", "c:Company", edgeAlias = Some("e"))
      .select("u.name", "c.name", "e.since").build)
    assert(rowBag(res) === Map(Seq("alice", "acme", 2020L) -> 1))
    // per-label counters continue after restore (metadata.hpp:124-300)
    assert(r.createNode("User", Map("name" -> "carol", "age" -> 22L)) === 2L)
    assert(r.createNode("Company", Map("name" -> "globex")) === 1L)
  }

  test("consecutive snapshots: restore, mutate, commit to the SAME path " +
      "(database_test.cpp:299,352)") {
    val dir = tmpDir("graft-snap-cyc")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType, "age" -> LongType)
    s.createNode("User", Map("name" -> "alice", "age" -> 30L))
    s.commit(dir)
    // restore and commit through plans that read this very snapshot —
    // an overwrite-in-place layout would delete the files mid-read
    val r = GraphStore.restore(spark, dir)
    r.createNode("User", Map("name" -> "bob", "age" -> 40L))
    r.updateWhere("User",
      org.apache.spark.sql.functions.col("name") === "alice",
      Map("age" -> org.apache.spark.sql.functions.lit(31L)))
    r.commit(dir)
    val r2 = GraphStore.restore(spark, dir)
    assert(rowBag(r2.nodes("User")) ===
      Map(Seq(0L, "alice", 31L) -> 1, Seq(1L, "bob", 40L) -> 1))
    // counters survive the chain: next id continues
    assert(r2.createNode("User", Map("name" -> "carol", "age" -> 1L)) === 2L)
    // each commit produced its own version directory (consecutive
    // snapshots never share/overwrite data files)
    assert(new java.io.File(s"$dir/v1").isDirectory)
    assert(new java.io.File(s"$dir/v2").isDirectory)
    // GC drops old versions, keeps the current, and the DB still restores.
    // s and r are live stores whose lazy plans read v1/v2 — GC refuses to
    // drop a pinned version until they release (close) their pins.
    r2.commit(dir) // v3
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 0)
    assert(new java.io.File(s"$dir/v1").isDirectory)
    s.close(); r.close()
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 2)
    assert(!new java.io.File(s"$dir/v1").exists())
    assert(!new java.io.File(s"$dir/v2").exists())
    assert(new java.io.File(s"$dir/v3").isDirectory)
    assert(GraphStore.restore(spark, dir).nodes("User").count() === 3)
  }

  test("incremental commit: unchanged tables are carried forward by " +
      "reference, not rewritten") {
    val dir = tmpDir("graft-snap-incr")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createSchema("Company", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.createNode("Company", Map("name" -> "acme"))
    s.commit(dir) // v1: both tables written
    s.createNode("User", Map("name" -> "bob"))
    s.commit(dir) // v2: only User changed
    // v2 holds User's rewrite but NOT Company — Company is a manifest
    // reference into v1 (at 100 TB: commit cost = O(changed tables))
    assert(new java.io.File(s"$dir/v2/nodes/User").isDirectory)
    assert(!new java.io.File(s"$dir/v2/nodes/Company").exists())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val m2 = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/v2/manifest.json")))
    val data = m2.get("labels").elements().asScala
      .map(n => n.get("label").asText() -> n.get("data").asText()).toMap
    assert(data("User") === "v2/nodes/User")
    assert(data("Company") === "v1/nodes/Company")
    // restore resolves the cross-version references
    val r = GraphStore.restore(spark, dir)
    assert(r.nodes("User").count() === 2)
    assert(rowBag(r.nodes("Company")) === Map(Seq(0L, "acme") -> 1))
    // a fully-unchanged store commits a manifest-only version
    r.commit(dir) // v3: nothing mutated since restore
    assert(!new java.io.File(s"$dir/v3/nodes").exists())
    val r3 = GraphStore.restore(spark, dir)
    assert(r3.nodes("User").count() === 2)
    assert(r3.nodes("Company").count() === 1)
  }

  test("commit to a second path rewrites once, then goes incremental " +
      "there too") {
    val dirA = tmpDir("graft-snap-rootA")
    val dirB = tmpDir("graft-snap-rootB")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.commit(dirA) // clean markers point at dirA
    s.commit(dirB) // other root: full rewrite, store re-roots on dirB
    assert(new java.io.File(s"$dirB/v1/nodes/User").isDirectory)
    s.commit(dirB) // unchanged since: manifest-only version
    assert(!new java.io.File(s"$dirB/v2/nodes").exists())
    assert(GraphStore.restore(spark, dirB).nodes("User").count() === 1)
  }

  test("schema-only tables round-trip commit+restore with no data dir") {
    val dir = tmpDir("graft-snap-empty")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createSchema("Ghost", "tag" -> StringType) // never populated
    s.createEdgeSchema("HAUNTS", "Ghost", "User", "since" -> LongType)
    s.createNode("User", Map("name" -> "alice"))
    s.commit(dir)
    assert(!new java.io.File(s"$dir/v1/nodes/Ghost").exists())
    val r = GraphStore.restore(spark, dir)
    assert(r.nodes("User").count() === 1)
    // absent "data" in an incremental manifest = no data, not a guessed
    // path into a dir that was never written
    assert(r.nodes("Ghost").count() === 0)
    // and the schema survives: a node can be created after restore
    r.createNode("Ghost", Map("tag" -> "boo"))
    assert(r.nodes("Ghost").count() === 1)
  }

  test("reuse degrades loudly, before the pointer flip, when referenced " +
      "data was deleted under a closed store") {
    val dir = tmpDir("graft-snap-gone")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.commit(dir) // v1; marker -> v1/nodes/User
    // simulate cross-process GC deleting the referenced data
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array()).foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(s"$dir/v1/nodes/User"))
    // the existence guard refuses the by-reference path; the rewrite
    // then fails reading the deleted files — loudly, with the previous
    // manifest still current (never a pointer to nonexistent data)
    assertThrows[Exception](s.commit(dir))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val head = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest.json")))
    assert(head.get("version").asInt() === 1)
  }

  test("snapshot time travel: an explicit retained version restores; a " +
      "GC'd one fails loudly") {
    val dir = tmpDir("graft-snap-tt")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.commit(dir) // v1
    s.createNode("User", Map("name" -> "bob"))
    s.commit(dir) // v2
    assert(GraphStore.restore(spark, dir,
      version = Some(1)).nodes("User").count() === 1)
    assert(GraphStore.restore(spark, dir).nodes("User").count() === 2)
    assertThrows[IllegalArgumentException](
      GraphStore.restore(spark, dir, version = Some(9)))
  }

  test("version reservation probes past a concurrent writer's dir; GC " +
      "sweeps reserved-but-never-committed orphans") {
    val dir = tmpDir("graft-snap-race")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.commit(dir) // v1
    // another writer's mkdir reservation for v2 (atomic-mkdir protocol)
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/v2"))
    s.createNode("User", Map("name" -> "bob"))
    s.commit(dir) // must NOT write into v2 — probes to v3
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val head = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest.json")))
    assert(head.get("version").asInt() === 3)
    assert(GraphStore.restore(spark, dir).nodes("User").count() === 2)
    // the empty v2 is a crashed reservation: references nothing, is not
    // restorable, and must neither block the sweep (fail-closed applies
    // to UNREADABLE manifests, not absent ones) nor survive it
    s.close()
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 2) // v1 + orphan v2
    assert(!new java.io.File(s"$dir/v2").exists())
    assert(GraphStore.restore(spark, dir).nodes("User").count() === 2)
  }

  test("an orphan dir does not occupy a keep-window slot") {
    val dir = tmpDir("graft-snap-slot")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.commit(dir) // v1
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/v2")) // orphan
    s.createNode("User", Map("name" -> "bob"))
    s.commit(dir) // v3
    s.close()
    // keep=2 means two RESTORABLE snapshots: v3 and v1. The orphan v2
    // must be swept, not counted against the window (which would evict
    // and delete v1 — a real snapshot).
    assert(GraphStore.gcSnapshots(dir, keep = 2) === 1)
    assert(!new java.io.File(s"$dir/v2").exists())
    assert(GraphStore.restore(spark, dir,
      version = Some(1)).nodes("User").count() === 1)
  }

  test("gcSnapshots keeps old versions the live manifest references") {
    val dir = tmpDir("graft-snap-incr-gc")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createSchema("Company", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.createNode("Company", Map("name" -> "acme"))
    s.commit(dir) // v1
    s.createNode("User", Map("name" -> "bob"))
    s.commit(dir) // v2: Company still lives in v1/
    s.close()
    // keep=1 would drop v1 by age — but v2's manifest references v1's
    // Company data: v1 is live data, not droppable history
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 0)
    assert(new java.io.File(s"$dir/v1/nodes/Company").isDirectory)
    val r = GraphStore.restore(spark, dir)
    assert(r.nodes("Company").count() === 1)
    // once Company is rewritten (v3), v1 is no longer referenced and GC
    // may drop it (v2 stays: v3 references its User data)
    r.createNode("Company", Map("name" -> "globex"))
    r.commit(dir) // v3: Company rewritten, User referenced from v2
    r.close()
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 1)
    assert(!new java.io.File(s"$dir/v1").exists())
    assert(new java.io.File(s"$dir/v2/nodes/User").isDirectory)
    val r2 = GraphStore.restore(spark, dir)
    assert(r2.nodes("User").count() === 2)
    assert(r2.nodes("Company").count() === 2)
  }

  test("gcSnapshots refuses to drop a version a live store is pinned to") {
    val dir = tmpDir("graft-snap-pin")
    val a = new GraphStore(spark)
    a.createSchema("User", "name" -> StringType)
    a.createNode("User", Map("name" -> "alice"))
    a.commit(dir) // v1 — a pins v1
    val b = GraphStore.restore(spark, dir) // b pins v1
    a.createNode("User", Map("name" -> "bob"))
    a.commit(dir) // v2 — a re-pins to v2; only b still holds v1
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 0)
    assert(b.nodes("User").count() === 1) // b's lazy plans still read v1
    b.close()
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 1)
    assert(!new java.io.File(s"$dir/v1").exists())
    assert(GraphStore.restore(spark, dir).nodes("User").count() === 2)
  }

  test("corrupt/truncated root pointer: restore falls back to the newest " +
      "complete version; commit heals the pointer") {
    val dir = tmpDir("graft-snap-crash")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.commit(dir) // v1
    s.createNode("User", Map("name" -> "bob"))
    s.commit(dir) // v2
    // simulate a crash mid-pointer-write on a non-atomic layout
    Files.writeString(java.nio.file.Paths.get(s"$dir/manifest.json"), "{\"ver")
    val r = GraphStore.restore(spark, dir)
    assert(r.nodes("User").count() === 2) // v2, the newest complete commit
    // committing over the corrupt pointer numbers past v2 and heals it
    r.createNode("User", Map("name" -> "carol"))
    r.commit(dir)
    assert(new java.io.File(s"$dir/v3").isDirectory)
    val r2 = GraphStore.restore(spark, dir)
    assert(r2.nodes("User").count() === 3)
    // a partial v-dir (no manifest) is skipped by the fallback too
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/v9"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/manifest.json"), "")
    assert(GraphStore.restore(spark, dir).nodes("User").count() === 3)
  }

  test("commit crashed mid-manifest-stage: v-dir with only .manifest.tmp " +
      "is an orphan — swept by GC, skipped by restore, sweep not aborted") {
    val dir = tmpDir("graft-snap-stage")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.commit(dir) // v1
    // simulate a crash between staging the v2 manifest and its
    // ATOMIC_MOVE: the reserved dir holds data + a tmp file but NO
    // manifest.json. Pre-r6 (plain writeString) this crash could leave a
    // TRUNCATED manifest.json instead, classifying Unreadable and
    // fail-closing every future sweep — the round-5 ADVICE headline.
    val staged = java.nio.file.Paths.get(s"$dir/v2")
    Files.createDirectories(staged.resolve("nodes/User"))
    Files.writeString(staged.resolve(".manifest.tmp"), "{\"labels\": [")
    s.createNode("User", Map("name" -> "bob"))
    s.commit(dir) // reservation probes past the crashed v2 → v3
    s.close()
    // classify() reads v2/manifest.json, gets NoSuchFile → Orphan: the
    // sweep proceeds (no fail-closed abort) and reclaims v1 + crashed v2
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 2)
    assert(!new java.io.File(s"$dir/v2").exists())
    assert(GraphStore.restore(spark, dir).nodes("User").count() === 2)
  }

  test("versioned store round-trips version metadata") {
    val dir = tmpDir("graft-snap-v")
    val clock = new graft.core.MockClock(1000L)
    val s = new GraphStore(spark, versioningEnabled = true, clock = clock)
    s.createSchema("User", "age" -> IntegerType)
    val id = s.createNode("User", Map("age" -> 1))
    clock.set(2000L)
    s.updateNode("User", id, Map("age" -> 2))
    s.commit(dir)

    val r = GraphStore.restore(spark, dir, clock)
    def ageAt(vt: Long) = new Planner(r).plan(GraphQuery("u", "User",
      select = List(SelectField(FieldRef.parse("u.age"))),
      asOf = Some(TemporalSnapshot(validTime = vt))))
      .collect().toSeq.map(_.get(0))
    assert(ageAt(1500L) === Seq(1))
    assert(ageAt(2500L) === Seq(2))
  }

  test("captured query plans are snapshot-isolated from later mutations " +
      "(reference concurrency contract: readers see consistent state)") {
    import org.apache.spark.sql.functions._
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType, "age" -> LongType)
    s.createNode("User", Map("name" -> "a", "age" -> 1L))
    s.createNode("User", Map("name" -> "b", "age" -> 2L))
    // a captured frame is an immutable plan over an immutable buffer
    // snapshot — mutations rebind the table's base, they never touch
    // frames already handed out (multi-reader/single-writer isolation;
    // the reference's concurrency tests pin reader consistency, which
    // Spark's immutable plans give by construction)
    val before = s.nodes("User")
    s.updateWhere("User", lit(true), Map("age" -> lit(99L)))
    s.deleteWhere("User", col("name") === "b")
    assert(rowBag(before.select("name", "age")) ===
      Map(Seq("a", 1L) -> 1, Seq("b", 2L) -> 1))
    assert(rowBag(s.nodes("User").select("name", "age")) ===
      Map(Seq("a", 99L) -> 1))
  }

  test("createNodes assigns dense contiguous ids across partitions") {
    import spark.implicits._
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "seed")) // id 0 — bulk continues at 1
    val bulk = (1 to 997).map(i => s"u$i").toDF("name").repartition(7)
    s.createNodes("User", bulk)
    val ids = s.nodes("User").select("id").collect().map(_.getLong(0)).sorted
    assert(ids.length === 998)
    assert(ids.toSeq === (0L until 998L)) // dense: no gaps, no duplicates
    // counter continues past the bulk block
    assert(s.createNode("User", Map("name" -> "after")) === 998L)
  }

  test("CSV bulk load with and without ids (S6)") {
    val dir = tmpDir("graft-csv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/users.csv"),
      "id,name,age\n0,alex,25\n1,bob,31\n2,jeff,33\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/friend.csv"), "src,dst\n0,1\n1,2\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/extra.csv"), "name,age\nzed,50\n")
    val s = new GraphStore(spark)
    s.createSchema("users", "name" -> StringType, "age" -> LongType)
    s.loadNodesCsv("users", s"$dir/users.csv")
    s.loadEdgesCsv("friend", "users", "users", s"$dir/friend.csv")
    // counter continues past CSV-provided ids
    s.loadNodesCsv("users", s"$dir/extra.csv")
    assert(rowBag(s.nodes("users")) === Map(
      Seq(0L, "alex", 25L) -> 1, Seq(1L, "bob", 31L) -> 1,
      Seq(2L, "jeff", 33L) -> 1, Seq(3L, "zed", 50L) -> 1))
    val res = new Planner(s).plan(Q.from("u:users")
      .traverse("u", "friend", "f:users")
      .select("u.name", "f.name").build)
    assert(rowBag(res) === Map(
      Seq("alex", "bob") -> 1, Seq("bob", "jeff") -> 1))
  }

  test("range-sharded commit lays files out by id and restores (S2)") {
    val dir = tmpDir("graft-shard")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    (0 until 100).foreach(i => s.createNode("User", Map("name" -> s"u$i")))
    s.commit(dir, shardPartitions = Some(4))
    val files = new java.io.File(s"$dir/v1/nodes/User").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 4)
    val r = GraphStore.restore(spark, dir)
    assert(r.nodes("User").count() === 100)
    assert(r.createNode("User", Map("name" -> "next")) === 100L)
  }

  test("fixed-size constraints: bulk guard, fixed ARRAY, and snapshot " +
      "round-trip (type_descriptor.hpp:26-77)") {
    import graft.core.FixedSize
    import org.apache.spark.sql.types.StructField
    val s = new GraphStore(spark)
    s.createSchemaFields("Sensor", Seq(
      FixedSize.string("tag", 8),
      FixedSize.array("cal", DoubleType, 3),
      StructField("name", StringType)))
    // interactive path: in-range passes, violations reject
    s.createNode("Sensor", Map("tag" -> "ok", "cal" -> Seq(1.0, 2.0, 3.0)))
    val e1 = intercept[IllegalArgumentException] {
      s.createNode("Sensor", Map("tag" -> "way-too-long-tag"))
    }
    assert(e1.getMessage.contains("FIXED_STRING(8)"))
    val e2 = intercept[IllegalArgumentException] {
      s.createNode("Sensor", Map("cal" -> Seq(1.0, 2.0)))
    }
    assert(e2.getMessage.contains("ARRAY[3]"))
    // bulk path: the distributed raise_error guard trips when the
    // column materializes (collect / snapshot write; a count() alone
    // prunes the projection and never evaluates it, like the reference
    // only validating rows it actually encodes)
    import spark.implicits._
    val bad = Seq(("oversized!", "n")).toDF("tag", "name")
    s.createNodes("Sensor", bad)
    val err = intercept[Exception] {
      s.nodes("Sensor").select("tag").collect()
    }
    assert(err.getMessage.contains("FIXED_STRING(8)"), err.getMessage)
    // constraints survive commit/restore (metadata rides StructType.json)
    val s2 = new GraphStore(spark)
    s2.createSchemaFields("Sensor", Seq(FixedSize.string("tag", 8)))
    s2.createNode("Sensor", Map("tag" -> "ok"))
    val dir = tmpDir("graft-fixed")
    s2.commit(dir)
    val r = GraphStore.restore(spark, dir)
    val e3 = intercept[IllegalArgumentException] {
      r.createNode("Sensor", Map("tag" -> "way-too-long-tag"))
    }
    assert(e3.getMessage.contains("FIXED_STRING(8)"))
  }

  /** End-to-end cluster-storage behavior every scheme-qualified backend
    * must satisfy — the same contract SnapshotSpec proves for plain
    * local paths: round-trip, incremental reuse, version reservation,
    * GC with keep-window + referenced-version liveness, explicit-version
    * restore. `readFile` reads a control file through the backend's own
    * storage (for manifest-content assertions). */
  private def clusterRootBehavior(dir: String,
                                  readFile: String => String): Unit = {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createSchema("Cold", "name" -> StringType)
    s.createNode("User", Map("name" -> "alice"))
    s.createNode("Cold", Map("name" -> "keep"))
    s.commit(dir)
    // v1 exists with manifest + reservation marker, readable back
    assert(readFile(s"$dir/v1/manifest.json").contains("v1/nodes/User"))
    val r1 = GraphStore.restore(spark, dir)
    assert(r1.nodes("User").count() === 1)
    // mutate only User: Cold must carry forward BY REFERENCE (v2
    // manifest points into v1) — the incremental path over this IO
    r1.createNode("User", Map("name" -> "bob"))
    r1.commit(dir)
    val man2 = readFile(s"$dir/v2/manifest.json")
    assert(man2.contains("v1/nodes/Cold"), man2)
    r1.close()
    val r2 = GraphStore.restore(spark, dir)
    assert(r2.nodes("User").count() === 2)
    assert(r2.nodes("Cold").count() === 1)
    // two more commits, then GC: keep-window retention + referenced-
    // version liveness must hold through the backend's delete path
    r2.createNode("User", Map("name" -> "carol")); r2.commit(dir)
    r2.createNode("User", Map("name" -> "dave")); r2.commit(dir)
    r2.close()
    GraphStore.gcSnapshots(dir, keep = 2)
    // v1 survives (v4's Cold still references it); explicit time travel
    // to the previous retained version works through the URI
    val r3 = GraphStore.restore(spark, dir, version = Some(3))
    assert(r3.nodes("User").count() === 3)
    r3.close()
    val r4 = GraphStore.restore(spark, dir)
    assert(r4.nodes("User").count() === 4)
    assert(r4.nodes("Cold").count() === 1)
    r4.close()
    s.close()
  }

  test("Hadoop FileSystem-backed snapshot root: commit/restore/GC/time " +
      "travel through a file: URI (cluster-storage path, S4/S5/D10)") {
    // Scheme-qualified roots route the manifest/lock control plane
    // through Hadoop FileSystem (SnapshotIO.HadoopSnapshotIO) — the same
    // code path an hdfs:// root takes on a real cluster; file: exercises
    // it hermetically (LocalFileSystem = ChecksumFileSystem, so the
    // CRC-shadow-file behaviors the nio path never hits run here too).
    val local = tmpDir("graft-hfs")
    clusterRootBehavior(s"file:$local",
      p => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.stripPrefix("file:")))))
  }

  test("object-store (mem://) snapshot root: the same end-to-end through " +
      "the conditional-put control plane and the no-rename data plane") {
    // mem:// routes the control plane through ObjectStoreSnapshotIO
    // (put-if-absent reservation, single-PUT pointer flip, CAS lease)
    // and the parquet data plane through MemObjectStoreFileSystem
    // (copy+delete rename, implicit dirs) — the protocol a production
    // S3/GCS/Azure binding would run. Same behavior contract as file:.
    graft.store.MemObjectStore.clear("snapspec")
    val bkt = graft.store.MemObjectStore.bucket("snapspec")
    clusterRootBehavior("mem://snapspec/graft",
      p => new String(
        bkt.get(p.stripPrefix("mem://snapspec/")).get.bytes, "UTF-8"))
  }

  test("concurrent committers to one mem:// root: put-if-absent " +
      "reservation serializes versions, the flip is monotone (last " +
      "committer wins), and the loser's snapshot is complete on disk") {
    graft.store.MemObjectStore.clear("snaprace")
    val dir = "mem://snaprace/graft"
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "base"))
    s.commit(dir) // v1
    val a = GraphStore.restore(spark, dir)
    val b = GraphStore.restore(spark, dir)
    a.createNode("User", Map("name" -> "fromA"))
    b.createNode("User", Map("name" -> "fromB"))
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val ts = Seq(a, b).map(st => new Thread(() => {
      try st.commit(dir)
      catch { case t: Throwable => err.compareAndSet(null, t); () }
    }))
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(err.get() == null, s"committer died: ${err.get()}")
    // both reservations went through: v2 AND v3 exist, each complete
    val bkt = graft.store.MemObjectStore.bucket("snaprace")
    assert(bkt.get("graft/v2/manifest.json").isDefined)
    assert(bkt.get("graft/v3/manifest.json").isDefined)
    // pointer names the LAST committer (monotone flip)
    assert(new String(bkt.get("graft/manifest.json").get.bytes, "UTF-8")
      .contains("\"version\" : 3"))
    // the published snapshot restores to one of the two valid outcomes
    // (base + exactly one of fromA/fromB — last-committer-wins, never a
    // merge and never a torn state)
    val r = GraphStore.restore(spark, dir)
    val names = r.nodes("User").collect().map(_.getAs[String]("name")).toSet
    assert(names.size === 2 && names.contains("base") &&
      (names.contains("fromA") ^ names.contains("fromB")), names)
    r.close(); a.close(); b.close(); s.close()
  }

  test("object-store GC reclaims a resurrected manifest: a manifest key " +
      "put directly into a swept version dir classifies Orphan, not Ok") {
    // Real stores have no parent constraint, so writeStringAtomic's
    // LIST-then-PUT guard is best-effort there (Bucket binding
    // contract): a committer paused across a sweep can land a lone
    // manifest key in the swept v-dir. GC must treat that dir as
    // exactly as restorable as its data — gone — instead of letting it
    // occupy a retention slot forever.
    graft.store.MemObjectStore.clear("resur")
    val dir = "mem://resur/graft"
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "a"))
    s.commit(dir) // v1
    s.createNode("User", Map("name" -> "b"))
    s.commit(dir) // v2 (current)
    s.close()
    val bkt = graft.store.MemObjectStore.bucket("resur")
    val v1Manifest = bkt.get("graft/v1/manifest.json").get.bytes
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 1) // v1 swept
    assert(bkt.listPrefix("graft/v1/").isEmpty)
    // the resurrection: the paused committer's PUT lands with no parent
    bkt.put("graft/v1/manifest.json", v1Manifest)
    // the manifest PARSES but its data dirs are gone → Orphan → swept;
    // a second pass confirms steady state (nothing left to reclaim)
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 1)
    assert(bkt.get("graft/v1/manifest.json").isEmpty)
    assert(GraphStore.gcSnapshots(dir, keep = 1) === 0)
    // the live snapshot is untouched throughout
    val r = GraphStore.restore(spark, dir)
    assert(r.nodes("User").count() === 2)
    r.close()
  }

  test("GC fails closed on a filesystem root when a manifest's data dir " +
      "is missing: abort the sweep, never demote to Orphan") {
    // The resurrected-manifest demotion (previous test) is scoped to
    // backends where resurrection can happen. On filesystem backends a
    // parseable manifest with missing data means corruption or a lying
    // Files.exists — deleting anything on that evidence would be
    // irreversible, so the whole sweep must abort (return 0).
    val dir = tmpDir("graft-gc-failclosed")
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "a"))
    s.commit(dir) // v1
    s.createNode("User", Map("name" -> "b"))
    s.commit(dir) // v2
    s.createNode("User", Map("name" -> "c"))
    s.commit(dir) // v3 (current); v1 is now outside keep=2
    s.close()
    // corrupt v1's data out from under its manifest
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val man = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/v1/manifest.json")))
    val rel = (man.get("labels").elements().asScala ++
      man.get("edges").elements().asScala)
      .filter(_.has("data")).map(_.get("data").asText())
      .find(_.startsWith("v1/"))
      .getOrElse(fail("v1 manifest references no own data"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array()).foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(s"$dir/$rel"))
    // v1 would be swept by keep=2 if classified; missing data makes it
    // Unreadable on this backend → the entire sweep aborts
    assert(GraphStore.gcSnapshots(dir, keep = 2) === 0)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/v2")), "fail-closed sweep deleted v2")
    // the live snapshot stays readable throughout
    val r = GraphStore.restore(spark, dir)
    assert(r.nodes("User").count() === 3)
    r.close()
  }

  test("object-store snapshot roots are rejected loudly (no atomic " +
      "rename, no commit coordinator)") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createNode("User", Map("name" -> "a"))
    val e = intercept[IllegalArgumentException] {
      s.commit("s3a://bucket/graft")
    }
    assert(e.getMessage.contains("atomic rename"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraphStore.restore(spark, "gs://bucket/graft")
    }
    assert(e2.getMessage.contains("atomic rename"), e2.getMessage)
  }
}
