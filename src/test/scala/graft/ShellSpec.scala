package graft

import graft.ql.{Shell, TundraQL}
import graft.store.GraphStore

/** End-to-end TundraQL statements through parser + shell + planner —
  * mirrors the reference shell flows (apps/tundra_shell.cpp, README.md
  * examples).
  */
class ShellSpec extends SparkSpec {

  private def shell(): Shell = new Shell(new GraphStore(spark))

  test("README flow: schemas, nodes, edges, match") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING, age: INT64);
      CREATE SCHEMA Company (name: STRING);
      CREATE NODE User (name = "Alice", age = 30);
      CREATE NODE User (name = "Bob", age = 25);
      CREATE NODE Company (name = "Acme");
      CREATE EDGE WORKS_AT FROM User(0) TO Company(0);
    """)
    val res = sh.execute(
      """MATCH (u:User)-[:WORKS_AT]->(c:Company) SELECT u.name, c.name;""")
      .get
    assert(rowBag(res) === Map(Seq("Alice", "Acme") -> 1))
    // LEFT join via QL
    val left = sh.execute(
      "MATCH (u:User)-[:WORKS_AT LEFT]->(c:Company) SELECT u.name, c.name;")
      .get
    assert(rowBag(left) === Map(
      Seq("Alice", "Acme") -> 1, Seq("Bob", null) -> 1))
  }

  test("WHERE with AND/OR and comparison ops") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING, age: INT64);
      CREATE NODE User (name = "a", age = 20);
      CREATE NODE User (name = "b", age = 30);
      CREATE NODE User (name = "c", age = 40);
    """)
    val res = sh.execute(
      """MATCH (u:User) WHERE u.age >= 30 AND u.name != "c" SELECT u.name;""")
      .get
    assert(rowBag(res) === Map(Seq("b") -> 1))
    val res2 = sh.execute(
      """MATCH (u:User) WHERE u.age < 25 OR u.age > 35 SELECT u.name;""").get
    assert(rowBag(res2) === Map(Seq("a") -> 1, Seq("c") -> 1))
  }

  test("reversed edge pattern <-[..]- swaps endpoints") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING);
      CREATE SCHEMA Company (name: STRING);
      CREATE NODE User (name = "Alice");
      CREATE NODE Company (name = "Acme");
      CREATE EDGE WORKS_AT FROM User(0) TO Company(0);
    """)
    val res = sh.execute(
      "MATCH (c:Company)<-[:WORKS_AT]-(u:User) SELECT c.name, u.name;").get
    assert(rowBag(res) === Map(Seq("Acme", "Alice") -> 1))
  }

  test("property-based node selector and UNIQUE edges") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING);
      CREATE NODE User (name = "Alice");
      CREATE NODE User (name = "Bob");
      CREATE UNIQUE EDGE FRIEND FROM (User{name = "Alice"}) TO (User{name = "Bob"});
      CREATE UNIQUE EDGE FRIEND FROM (User{name = "Alice"}) TO (User{name = "Bob"});
    """)
    val res = sh.execute("SHOW EDGES FRIEND;").get
    assert(res.count() === 1)
  }

  test("multi-match selector: cross product; UNIQUE demands cardinality 1") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING, team: STRING);
      CREATE SCHEMA Room (name: STRING);
      CREATE NODE User (name = "a", team = "eng");
      CREATE NODE User (name = "b", team = "eng");
      CREATE NODE User (name = "c", team = "ops");
      CREATE NODE Room (name = "r1");
      CREATE NODE Room (name = "r2");
    """)
    // 2 sources × 2 targets = 4 edges (apps/tundra_shell.cpp:437-446)
    sh.execute(
      """CREATE EDGE BOOKED FROM (User{team = "eng"}) TO (Room{name = "r1"});""")
    sh.execute(
      """CREATE EDGE BOOKED FROM (User{team = "eng"}) TO (Room{name = "r2"});""")
    assert(sh.execute("SHOW EDGES BOOKED;").get.count() === 4)
    // zero matches create zero edges, no error
    sh.execute(
      """CREATE EDGE BOOKED FROM (User{team = "hr"}) TO (Room{name = "r1"});""")
    assert(sh.execute("SHOW EDGES BOOKED;").get.count() === 4)
    // UNIQUE + multi-match selector = cardinality violation
    // (apps/tundra_shell.cpp:423-435)
    val err = intercept[IllegalArgumentException] {
      sh.execute("""CREATE UNIQUE EDGE BOOKED FROM (User{team = "eng"}) TO (Room{name = "r1"});""")
    }
    assert(err.getMessage.contains("UNIQUE constraint violated"))
  }

  test("pathological selector fails fast instead of unbounded collect") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING, team: STRING);
      CREATE SCHEMA Room (name: STRING);
      CREATE NODE User (name = "a", team = "eng");
      CREATE NODE User (name = "b", team = "eng");
      CREATE NODE User (name = "c", team = "eng");
      CREATE NODE Room (name = "r1");
    """)
    System.setProperty("graft.shell.maxSelectorMatches", "2")
    try {
      val err = intercept[IllegalArgumentException] {
        sh.execute(
          """CREATE EDGE BOOKED FROM (User{team = "eng"}) TO (Room{name = "r1"});""")
      }
      assert(err.getMessage.contains("more than 2"))
    } finally System.clearProperty("graft.shell.maxSelectorMatches")
    // back under the cap, the same statement works
    sh.execute(
      """CREATE EDGE BOOKED FROM (User{team = "eng"}) TO (Room{name = "r1"});""")
    assert(sh.execute("SHOW EDGES BOOKED;").get.count() === 3)
  }

  test("edge schema with properties via QL") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING);
      CREATE SCHEMA Company (name: STRING);
      CREATE EDGE SCHEMA WORKS_AT (since: INT64, role: STRING);
      CREATE NODE User (name = "Alice");
      CREATE NODE Company (name = "Acme");
      CREATE EDGE WORKS_AT FROM User(0) TO Company(0) WITH (since = 2020, role = "eng");
    """)
    val res = sh.execute(
      "MATCH (u:User)-[e:WORKS_AT]->(c:Company) " +
        "WHERE e.since >= 2020 SELECT u.name, e.role;").get
    assert(rowBag(res) === Map(Seq("Alice", "eng") -> 1))
  }

  test("UPDATE by id, by pattern, and by MATCH") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING, age: INT64, props: MAP);
      CREATE NODE User (name = "a", age = 20);
      CREATE NODE User (name = "b", age = 70);
      UPDATE User(0) SET age = 21;
      UPDATE (u:User) SET u.name = "senior" WHERE u.age > 65;
      UPDATE (u:User) SET u.props.level = "vip" WHERE u.age > 65;
    """)
    val res = sh.execute(
      "MATCH (u:User) SELECT u.name, u.age, u.props.level;").get
    assert(rowBag(res) === Map(
      Seq("a", 21L, null) -> 1, Seq("senior", 70L, "vip") -> 1))
  }

  test("UPDATE MATCH over a traversal") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING, vip: STRING);
      CREATE SCHEMA Company (name: STRING);
      CREATE NODE User (name = "Alice");
      CREATE NODE User (name = "Bob");
      CREATE NODE Company (name = "Acme");
      CREATE EDGE WORKS_AT FROM User(0) TO Company(0);
      UPDATE MATCH (u:User)-[:WORKS_AT]->(c:Company) SET u.vip = "yes" WHERE c.name = "Acme";
    """)
    val res = sh.execute("MATCH (u:User) SELECT u.name, u.vip;").get
    assert(rowBag(res) === Map(
      Seq("Alice", "yes") -> 1, Seq("Bob", null) -> 1))
  }

  test("UPDATE MATCH sets both traversal sides in one statement " +
      "(update_query_join_test.cpp:106 UpdateBothSidesOfTraversal)") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING, status: STRING);
      CREATE SCHEMA Company (name: STRING, tier: STRING);
      CREATE NODE User (name = "Alice");
      CREATE NODE User (name = "Bob");
      CREATE NODE Company (name = "Acme");
      CREATE NODE Company (name = "Globex");
      CREATE EDGE WORKS_AT FROM User(0) TO Company(0);
      UPDATE MATCH (u:User)-[:WORKS_AT]->(c:Company) SET u.status = "linked", c.tier = "gold";
    """)
    val users = sh.execute("MATCH (u:User) SELECT u.name, u.status;").get
    assert(rowBag(users) === Map(
      Seq("Alice", "linked") -> 1, Seq("Bob", null) -> 1))
    val cos = sh.execute("MATCH (c:Company) SELECT c.name, c.tier;").get
    assert(rowBag(cos) === Map(
      Seq("Acme", "gold") -> 1, Seq("Globex", null) -> 1))
  }

  test("DELETE by id, by pattern, edges") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING, age: INT64);
      CREATE NODE User (name = "a", age = 10);
      CREATE NODE User (name = "b", age = 70);
      CREATE NODE User (name = "c", age = 80);
      CREATE EDGE FRIEND FROM User(0) TO User(1);
      DELETE (u:User) WHERE u.age > 75;
      DELETE User(1);
    """)
    val res = sh.execute("MATCH (u:User) SELECT u.name;").get
    assert(rowBag(res) === Map(Seq("a") -> 1))
    assert(sh.execute("SHOW EDGES FRIEND;").get.count() === 0)
    val types = sh.execute("SHOW EDGE TYPES;").get
    assert(rowBag(types) === Map(Seq("FRIEND", "User", "User", 0L) -> 1))
  }

  test("DELETE over a path pattern removes matched edges, keeps nodes") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING);
      CREATE SCHEMA Company (name: STRING);
      CREATE NODE User (name = "Alice");
      CREATE NODE User (name = "Bob");
      CREATE NODE Company (name = "Acme");
      CREATE NODE Company (name = "Globex");
      CREATE EDGE WORKS_AT FROM User(0) TO Company(0);
      CREATE EDGE WORKS_AT FROM User(1) TO Company(1);
      DELETE (u:User)-[:WORKS_AT]->(c:Company) WHERE c.name = "Acme";
    """)
    // only the Alice->Acme relationship matched; Bob->Globex survives and
    // all four nodes remain (reference intent: tundra_shell.cpp:847-856)
    val res = sh.execute(
      "MATCH (u:User)-[:WORKS_AT]->(c:Company) SELECT u.name, c.name;").get
    assert(rowBag(res) === Map(Seq("Bob", "Globex") -> 1))
    assert(sh.execute("MATCH (u:User) SELECT u.name;").get.count() === 2)
    assert(sh.execute("MATCH (c:Company) SELECT c.name;").get.count() === 2)
  }

  test("multi-hop DELETE removes every hop's matched edges") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING);
      CREATE SCHEMA Co (name: STRING);
      CREATE NODE User (name = "a");
      CREATE NODE User (name = "b");
      CREATE NODE Co (name = "x");
      CREATE EDGE FRIEND FROM User(0) TO User(1);
      CREATE EDGE WORKS_AT FROM User(1) TO Co(0);
      CREATE EDGE WORKS_AT FROM User(0) TO Co(0);
    """)
    // the path a-FRIEND->b-WORKS_AT->x matches once; BOTH its edges must
    // go (hop 2's match must not re-run against the post-hop-1 store,
    // where the path no longer exists)
    sh.execute(
      "DELETE (u:User)-[:FRIEND]->(f:User)-[:WORKS_AT]->(c:Co);")
    assert(sh.execute("SHOW EDGES FRIEND;").get.count() === 0)
    val left = sh.execute("SHOW EDGES WORKS_AT;").get
    assert(left.count() === 1) // only the a->x edge (not on the path)
    val nodes = sh.execute("MATCH (u:User) SELECT u.name;").get
    assert(nodes.count() === 2) // endpoints survive
  }

  test("multi-alias UPDATE MATCH matches once: WHERE on a field the " +
      "statement itself updates") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING, status: STRING);
      CREATE SCHEMA Co (name: STRING, tier: STRING);
      CREATE NODE User (name = "a", status = "old");
      CREATE NODE Co (name = "x");
      CREATE EDGE WORKS_AT FROM User(0) TO Co(0);
      UPDATE MATCH (u:User)-[:WORKS_AT]->(c:Co) SET u.status = "new", c.tier = "gold" WHERE u.status = "old";
    """)
    // both sides must update even though u.status = "old" stops being
    // true the moment the u-side applies — the MATCH is logically one
    val cos = sh.execute("MATCH (c:Co) SELECT c.name, c.tier;").get
    assert(rowBag(cos) === Map(Seq("x", "gold") -> 1))
    val users = sh.execute("MATCH (u:User) SELECT u.name, u.status;").get
    assert(rowBag(users) === Map(Seq("a", "new") -> 1))
  }

  test("CREATE NODE RETURN id") {
    val sh = shell()
    sh.execute("CREATE SCHEMA User (name: STRING);")
    val r = sh.execute("""CREATE NODE User (name = "x") RETURN id;""").get
    assert(r.collect().map(_.getLong(0)).toSeq === Seq(0L))
  }

  test("three comma patterns intersect on the shared alias " +
      "(tundra_shell.cpp:473 loops over ALL additional patterns)") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING);
      CREATE SCHEMA Co (name: STRING);
      CREATE NODE User (name = "a");
      CREATE NODE User (name = "b");
      CREATE NODE User (name = "c");
      CREATE NODE Co (name = "x");
      CREATE NODE Co (name = "y");
      CREATE NODE Co (name = "z");
      CREATE EDGE WORKS FROM User(0) TO Co(0);
      CREATE EDGE WORKS FROM User(0) TO Co(1);
      CREATE EDGE LIKES FROM User(1) TO Co(0);
      CREATE EDGE LIKES FROM User(1) TO Co(2);
      CREATE EDGE VISITS FROM User(2) TO Co(0);
    """)
    // c-sets per pattern: works={x,y}, likes={x,z}, visits={x} → {x}
    val res = sh.execute(
      "MATCH (u:User)-[:WORKS]->(c:Co), (v:User)-[:LIKES]->(c:Co), " +
        "(w:User)-[:VISITS]->(c:Co) SELECT u.name, v.name, w.name, c.name;")
      .get
    assert(rowBag(res) === Map(Seq("a", "b", "c", "x") -> 1))
  }

  test("EXPLAIN MATCH returns the physical plan") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING);
      CREATE NODE User (name = "Alice");
    """)
    val plan = sh.execute("EXPLAIN MATCH (u:User) SELECT u.name;").get
      .collect().head.getString(0)
    assert(plan.contains("Physical Plan"))
  }

  test("parse errors are informative") {
    val sh = shell()
    val e = intercept[IllegalArgumentException] {
      sh.execute("MATCHH (u:User);")
    }
    assert(e.getMessage.contains("unexpected"))
  }

  test("script file execution: -- comments, per-statement stats, " +
      "failures skipped (SCRIPT_EXECUTION_FEATURE.md)") {
    val sh = shell()
    val f = tmpFile("graft-script", ".sql")
    java.nio.file.Files.writeString(f,
      """-- a reference-style script
        |CREATE SCHEMA User (name: STRING, age: INT64); -- trailing comment
        |CREATE NODE User (name = "Alice", age = 25);
        |CREATE NODE User (name = "Bob", age = 30);
        |-- this one fails at execution (unknown schema) but the script goes on
        |CREATE NODE Ghost (name = "x");
        |MATCH (u:User);
        |""".stripMargin)
    val (ok, failed) = sh.executeScriptFile(f.toString)
    assert(ok === 4 && failed === 1)
    val res = sh.execute("MATCH (u:User) SELECT u.name;").get
    assert(rowBag(res) === Map(Seq("Alice") -> 1, Seq("Bob") -> 1))
  }

  test("UPDATE MATCH on an edge alias rewrites edge properties (D6)") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA User (name: STRING);
      CREATE SCHEMA Company (name: STRING);
      CREATE EDGE SCHEMA WORKS_AT (role: STRING);
      CREATE NODE User (name = "Alice");
      CREATE NODE User (name = "Bob");
      CREATE NODE Company (name = "Acme");
      CREATE EDGE WORKS_AT FROM User(0) TO Company(0) WITH (role = "eng");
      CREATE EDGE WORKS_AT FROM User(1) TO Company(0) WITH (role = "eng");
      UPDATE MATCH (u:User)-[e:WORKS_AT]->(c:Company) SET e.role = "mgr" WHERE u.name = "Alice";
    """)
    val res = sh.execute(
      "MATCH (u:User)-[e:WORKS_AT]->(c:Company) SELECT u.name, e.role;").get
    assert(rowBag(res) === Map(
      Seq("Alice", "mgr") -> 1, Seq("Bob", "eng") -> 1))
  }

  test("mixed-type MAP values project as string " +
      "(execution.cpp:74-79 dominant-type fallback)") {
    // The reference infers a dominant type for extracted MAP values and
    // falls back to STRING the moment two rows disagree
    // (src/query/execution.cpp:74-79). The engine's sanctioned shape is
    // MAP<string,string> storage + cast-on-read (SURVEY §7), so a key
    // holding an int on one row and a string on another projects as the
    // reference's mixed→string fallback — with NO per-batch type sniff.
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA Doc (name: STRING, props: MAP);
      CREATE NODE Doc (name = "a");
      CREATE NODE Doc (name = "b");
      CREATE NODE Doc (name = "c");
      UPDATE (d:Doc) SET d.props.x = 42 WHERE d.name = "a";
      UPDATE (d:Doc) SET d.props.x = "abc" WHERE d.name = "b";
    """)
    val res = sh.execute("MATCH (d:Doc) SELECT d.name, d.props.x;").get
    assert(res.schema.fields.map(_.dataType).forall(
      _ == org.apache.spark.sql.types.StringType))
    assert(rowBag(res) === Map(
      Seq("a", "42") -> 1, Seq("b", "abc") -> 1, Seq("c", null) -> 1))
  }

  test("FIXED_STRING length enforced on write " +
      "(type_descriptor.hpp:55-77: FIXED_STRING16/32/64 = capped STRING)") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA Tag (code: FIXED_STRING16, note: STRING);
      CREATE NODE Tag (code = "fits-in-sixteen", note = "ok");
    """)
    val e = intercept[Exception] {
      sh.execute(s"""CREATE NODE Tag (code = "${"x" * 17}");""")
    }
    assert(e.getMessage.contains("FIXED_STRING(16)"), e.getMessage)
    // the oversized write was rejected atomically — nothing half-landed
    val res = sh.execute("MATCH (t:Tag) SELECT t.code;").get
    assert(rowBag(res) === Map(Seq("fits-in-sixteen") -> 1))
    // edge props are validated the same way
    sh.execute("""
      CREATE EDGE SCHEMA TAGGED (label: FIXED_STRING16);
      CREATE SCHEMA Item (name: STRING);
      CREATE NODE Item (name = "thing");
      CREATE EDGE TAGGED FROM Tag(0) TO Item(0) WITH (label = "ok");
    """)
    val e2 = intercept[Exception] {
      sh.execute("CREATE EDGE TAGGED FROM Tag(0) TO Item(0) " +
        s"""WITH (label = "${"y" * 20}");""")
    }
    assert(e2.getMessage.contains("FIXED_STRING(16)"), e2.getMessage)
  }

  test("PIPELINE statements: every family parses and matches its " +
      "Scala-API twin") {
    import org.apache.spark.sql.functions.col
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA Doc (text: STRING);
      CREATE NODE Doc (text = "a b c d e f g h i");
      CREATE NODE Doc (text = "a b c d e f g h j");
      CREATE NODE Doc (text = "a b c d e f g h i");
      CREATE NODE Doc (text = "totally different text here now ok yes no");
    """)
    // DEDUP EXACT (default variant): 3 distinct texts
    val dedup = sh.execute("PIPELINE DEDUP ON Doc;").get
    assert(dedup.count() === 3)
    assert(dedup.filter(col("cnt") === 2).count() === 1)
    // DEDUP MINHASH / SIMHASH: the exact-dup pair must surface
    val mh = sh.execute("PIPELINE DEDUP MINHASH ON Doc WITH " +
      "(shingle_k = 2, threshold = 0.5, bands = 32);").get
    assert(mh.filter(col("id_a") === 0 && col("id_b") === 2).count() === 1)
    val simh = sh.execute(
      "PIPELINE DEDUP SIMHASH ON Doc WITH (max_hamming = 0);").get
    assert(simh.filter(col("id_a") === 0 && col("id_b") === 2)
      .count() === 1)
    // SPANS + SPANS REMOVE: docs 0/2 fully covered at k=9; doc 1 shares
    // only the 8-token prefix (no 9-gram), so k=8 covers 0..7 there
    val spans = sh.execute("PIPELINE SPANS ON Doc WITH (k = 8);").get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(spans === Set((0L, 0L, 8L), (2L, 0L, 8L), (1L, 0L, 7L)))
    val removed = sh.execute(
      "PIPELINE SPANS REMOVE ON Doc WITH (k = 8);").get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(removed === Set((1L, "j"), (3L,
      "totally different text here now ok yes no")))
    // SHARDS: QL result == API result
    val qlShards = sh.execute("PIPELINE SHARDS ON Doc WITH (n = 4);").get
      .select("id", "shard", "sort_key", "pos").collect().toSet
    val apiShards = graft.pipeline.Curation.shuffleShards(
      sh.execute("MATCH (d:Doc) SELECT d.id AS id, d.text AS text;")
        .get.select(col("id").cast("long").as("id")), "id", 4)
      .select("id", "shard", "sort_key", "pos").collect().toSet
    assert(qlShards === apiShards)
    // DECONTAMINATE against a second label: docs 0/2 share every
    // 3-gram with the benchmark copy of doc 0
    sh.execute("""
      CREATE SCHEMA Bench (text: STRING);
      CREATE NODE Bench (text = "a b c d e f g h i");
    """)
    val dec = sh.execute("PIPELINE DECONTAMINATE ON Doc AGAINST Bench " +
      "WITH (k = 3);").get
    assert(dec.filter(col("contaminated")).count() === 3) // docs 0,1,2
    assert(dec.filter(col("id") === 3 && col("overlap_cnt") === 0)
      .count() === 1)
    // PACK: 9+9+9+8 tokens into 16-token bins by exclusive prefix sum
    val pack = sh.execute("PIPELINE PACK ON Doc WITH (budget = 16);").get
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(pack === Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L))
    // SAMPLE: pct=100 keeps the whole stratum, default 0 drops the rest
    val samp = sh.execute("PIPELINE SAMPLE ON Doc WITH (by = \"text\", " +
      "pct = \"totally different text here now ok yes no:100\", " +
      "default_pct = 0);").get
    assert(samp.collect().map(_.getAs[Long]("id")).toSet === Set(3L))
    // CLUSTERS: blocked on a constant column -> docs 0/1/2 cluster to 0
    val clus = sh.execute("PIPELINE CLUSTERS ON Doc WITH " +
      "(block = \"text\", keys = \"text\", k = 3, threshold = 0.9);").get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clus(0L) === 0L && clus(2L) === 0L && clus(3L) === 3L)
    // unknown family fails loudly
    val err = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE FROBNICATE ON Doc;")
    }
    assert(err.getMessage.contains("unknown PIPELINE statement"))
    // a misspelled option key fails loudly naming the accepted set —
    // never a silent default (review r12)
    val optErr = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE SPANS ON Doc WITH (gram_width = 8);")
    }
    assert(optErr.getMessage.contains("unknown PIPELINE option") &&
      optErr.getMessage.contains("min_count"), optErr.getMessage)
    // a stratum value containing ':' binds the percent after the LAST
    // ':' instead of crashing; malformed entries error with the syntax
    val s2 = sh.execute("PIPELINE SAMPLE ON Doc WITH (by = \"text\", " +
      "pct = \"http://x:100\", default_pct = 100);").get
    assert(s2.count() === 4) // default 100 keeps all; entry parsed fine
    val pctErr = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE SAMPLE ON Doc WITH (by = \"text\", " +
        "pct = \"oops\");")
    }
    assert(pctErr.getMessage.contains("malformed pct entry"))
  }

  test("PIPELINE diagnostics: unknown variants and malformed option " +
      "values name the statement and key") {
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA Doc (text: STRING);
      CREATE NODE Doc (text = "a b c");
    """)
    // an unknown VARIANT of a known family is an unknown STATEMENT —
    // even with options present it must not reject the option keys
    // against an empty accepted set (advice r12)
    val v1 = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE SPANS FOO ON Doc WITH (k = 8);")
    }
    assert(v1.getMessage.contains("unknown PIPELINE statement") &&
      v1.getMessage.contains("SPANS FOO"), v1.getMessage)
    val v2 = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE DEDUP FUZZY ON Doc;")
    }
    assert(v2.getMessage.contains("unknown PIPELINE statement"),
      v2.getMessage)
    // malformed numeric option values name the offending key and the
    // statement, per coercion type (advice r12: a bare
    // NumberFormatException gave no hint which option was malformed)
    val i1 = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE SPANS ON Doc WITH (k = \"abc\");")
    }
    assert(i1.getMessage.contains("option 'k' of PIPELINE SPANS") &&
      i1.getMessage.contains("must be an integer") &&
      i1.getMessage.contains("\"abc\""), i1.getMessage)
    val i2 = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE SPANS ON Doc WITH (min_count = \"lots\");")
    }
    assert(i2.getMessage.contains("option 'min_count'") &&
      i2.getMessage.contains("must be an integer"), i2.getMessage)
    val i3 = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE DEDUP MINHASH ON Doc WITH " +
        "(threshold = \"high\");")
    }
    assert(i3.getMessage.contains("option 'threshold'") &&
      i3.getMessage.contains("must be a number"), i3.getMessage)
  }

  test("PIPELINE TEXT BOILERPLATE / TEXT LM / SEMDEDUP: new families " +
      "match their Scala twins; SEMDEDUP chains with INTO") {
    import org.apache.spark.sql.functions.col
    val store = new GraphStore(spark)
    val sh = new Shell(store)
    // multi-line texts attach directly (the QL string literal has no
    // escape syntax for newlines — same route the p92 gate takes)
    import spark.implicits._
    store.attachNodes("mldoc", Seq(
      (0L, "NAV\nbody zero\nNAV"),
      (1L, "NAV\nbody one"),
      (2L, "NAV\nbody two"),
      (3L, "solo body")).toDF("id", "text"), "id")
    val boiler = sh.execute(
      "PIPELINE TEXT BOILERPLATE ON mldoc WITH (min_docs = 3);").get
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toMap
    assert(boiler === Map(0L -> (("body zero", 2L)),
      1L -> (("body one", 1L)), 2L -> (("body two", 1L)),
      3L -> (("solo body", 0L))))
    // TEXT LM: QL result == API result (column-for-column)
    store.attachNodes("lmdoc",
      Seq((0L, "a b a b"), (1L, "a b c")).toDF("id", "text"), "id")
    val ql = sh.execute("PIPELINE TEXT LM ON lmdoc;").get
      .select("id", "n_bigrams", "sum_c2", "sum_c1").collect().toSet
    val api = graft.pipeline.TextAnalysis.bigramLm(
      Seq((0L, "a b a b"), (1L, "a b c")).toDF("id", "text"),
      "id", "text")
      .select("id", "n_bigrams", "sum_c2", "sum_c1").collect().toSet
    assert(ql === api && ql.nonEmpty)
    // SEMDEDUP: near-identical pair collapses to the lower id, and the
    // doc-grain output chains with INTO
    store.attachNodes("vecs", Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.999f, 0.02f)),
      (2L, Array(0.0f, 1.0f))).toDF("id", "embedding"), "id")
    val kept = sh.execute("PIPELINE SEMDEDUP ON vecs WITH " +
      "(clusters = 2, iters = 1, threshold = 0.99) INTO keptvecs;").get
    assert(kept.collect().map(_.getAs[Long]("id")).toSet === Set(0L, 2L))
    assert(sh.execute("MATCH (k:keptvecs) SELECT k.id;").get.count() === 2)
    // misspelled option on a new family names the accepted set
    val err = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE SEMDEDUP ON vecs WITH (n_clusters = 2);")
    }
    assert(err.getMessage.contains("unknown PIPELINE option") &&
      err.getMessage.contains("clusters"), err.getMessage)
    // TEXT BPE: QL trains + tokenizes and matches the API twin
    store.attachNodes("bpedoc",
      Seq((0L, "low low lower newest")).toDF("id", "text"), "id")
    val qlBpe = sh.execute(
      "PIPELINE TEXT BPE ON bpedoc WITH (merges = 3);").get
      .select("id", "tokens", "n_tokens", "detok").collect().toSet
    val apiDocs = Seq((0L, "low low lower newest")).toDF("id", "text")
    val apiBpe = graft.pipeline.Bpe.tokenize(apiDocs, "id", "text",
      graft.pipeline.Bpe.train(apiDocs, "text", 3))
      .select("id", "tokens", "n_tokens", "detok").collect().toSet
    assert(qlBpe === apiBpe && qlBpe.nonEmpty)
  }

  test("PIPELINE DSIR: matches the Scala twin (AGAINST = target, " +
      "scored label = source), k resamples, AGAINST is mandatory") {
    val store = new GraphStore(spark)
    val sh = new Shell(store)
    import spark.implicits._
    val docs = Seq((0L, "a b a"), (1L, "a c"), (2L, "b b"),
      (3L, "c c c")).toDF("id", "text")
    store.attachNodes("corpus", docs, "id")
    store.attachNodes("tgt", docs.filter($"id" === 0L), "id")
    val ql = sh.execute("PIPELINE DSIR ON corpus AGAINST tgt;").get
      .select("id", "n_feats", "sum_tc", "sum_sc").collect().toSet
    val api = graft.pipeline.Dsir.weights(docs,
      docs.filter($"id" === 0L), docs, "id", "text")
      .select("id", "n_feats", "sum_tc", "sum_sc").collect().toSet
    assert(ql === api && ql.nonEmpty)
    // k > 0 resamples deterministically (seed defaults to 42)
    val picked = sh.execute(
      "PIPELINE DSIR ON corpus AGAINST tgt WITH (k = 2);").get
    assert(picked.count() === 2)
    val err = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE DSIR ON corpus;")
    }
    assert(err.getMessage.contains("AGAINST"), err.getMessage)
  }

  test("PIPELINE ... INTO: document-grain results attach and chain; " +
      "pair-grain refuses") {
    import org.apache.spark.sql.functions.col
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA Doc (text: STRING);
      CREATE NODE Doc (text = "a b c d e f g h i unique1 tail tail2");
      CREATE NODE Doc (text = "a b c d e f g h i unique2 tip tip2");
      CREATE NODE Doc (text = "clean words only here");
      CREATE NODE Doc (text = "clean words only here");
    """)
    // chain: remove duplicated spans INTO cleaned, then exact-dedup the
    // cleaned texts — must reproduce the composed Scala-API result
    sh.execute(
      "PIPELINE SPANS REMOVE ON Doc WITH (k = 9) INTO cleaned;")
    val chained = sh.execute(
      "PIPELINE DEDUP EXACT ON cleaned WITH (keys = \"clean_text\");")
      .get.select("id", "clean_text", "cnt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val store2 = new GraphStore(spark)
    import spark.implicits._
    store2.attachNodes("Doc", Seq(
      (0L, "a b c d e f g h i unique1 tail tail2"),
      (1L, "a b c d e f g h i unique2 tip tip2"),
      (2L, "clean words only here"),
      (3L, "clean words only here")).toDF("id", "text"), "id")
    val api = graft.pipeline.Dedup.exact(
      graft.pipeline.Dedup.removeSpans(store2.nodes("Doc"), "id", "text",
        k = 9),
      "id", Seq("clean_text")).select("id", "clean_text", "cnt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(chained === api && chained.nonEmpty)
    // the attached label is a real node table: MATCH sees it
    assert(sh.execute("MATCH (c:cleaned) SELECT c.n_kept;").get
      .count() === 4)
    // pair-grain output refuses INTO loudly
    val e = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE DEDUP SIMHASH ON Doc INTO pairs;")
    }
    assert(e.getMessage.contains("not document-grain"), e.getMessage)
  }

  test("PIPELINE TEXT / MEDIA families match their Scala-API twins") {
    import org.apache.spark.sql.functions.col
    val sh = shell()
    sh.execute("""
      CREATE SCHEMA Doc (text: STRING);
      CREATE NODE Doc (text = "The quick brown fox and the lazy dog");
      CREATE NODE Doc (text = "word word word word word");
      CREATE NODE Doc (text = "contact user1@example.com ref 7919");
    """)
    val store = new GraphStore(spark)
    import spark.implicits._
    store.attachNodes("Doc", Seq(
      (0L, "The quick brown fox and the lazy dog"),
      (1L, "word word word word word"),
      (2L, "contact user1@example.com ref 7919")).toDF("id", "text"),
      "id")
    val docs = store.nodes("Doc")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    assert(rows(sh.execute("PIPELINE TEXT QUALITY ON Doc;").get) ===
      rows(graft.pipeline.TextAnalysis.annotate(docs, "text")
        .select(col("id"), col("n_tokens"), col("n_tokens_bpe"),
          col("stopword_ratio"), col("avg_word_len"), col("quality"))))
    assert(rows(sh.execute("PIPELINE TEXT LANGID ON Doc;").get) ===
      rows(docs.select(col("id"),
        graft.pipeline.TextAnalysis.langId(col("text"))
          .as("lang_pred"))))
    // threshold binds only to method=stopword — with ngram it would
    // be silently ignored, so the statement refuses it loudly
    // (advice r15, the r12 silent-option class)
    val thrNgram = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE TEXT LANGID ON Doc WITH " +
        "(method = \"ngram\", threshold = 0.5);")
    }
    assert(thrNgram.getMessage.contains("threshold"))
    assert(sh.execute("PIPELINE TEXT LANGID ON Doc WITH " +
      "(method = \"stopword\", threshold = 0.5);").isDefined)
    // LANGIDTRAIN: trained profiles from a labeled corpus; options
    // validate per the loud-failure posture (threshold doesn't bind)
    val store3 = new GraphStore(spark)
    store3.attachNodes("Labeled", Seq(
      (0L, "en", "the cat and the dog and the fox"),
      (1L, "fr", "le chat et le chien et le renard"),
      (2L, "en", "the bird and the bee")).toDF("id", "lang", "text"),
      "id")
    val sh3 = new Shell(store3)
    val trained = sh3.execute("PIPELINE TEXT LANGIDTRAIN ON Labeled " +
      "WITH (label = \"lang\", k = 5);").get
    assert(trained.columns.toSeq ===
      Seq("lang", "rank", "tri", "cnt"))
    val byLang = trained.collect().groupBy(_.getString(0))
    assert(byLang.keySet === Set("en", "fr"))
    assert(byLang("en").length === 5 && byLang("fr").length === 5)
    // ' th' and 'the' dominate the English slices
    assert(byLang("en").map(_.getString(2)).contains("the"))
    val trThr = intercept[IllegalArgumentException] {
      sh3.execute("PIPELINE TEXT LANGIDTRAIN ON Labeled WITH " +
        "(label = \"lang\", threshold = 0.5);")
    }
    assert(trThr.getMessage.contains("threshold"))
    assert(rows(sh.execute("PIPELINE TEXT FINGERPRINT ON Doc;").get) ===
      rows(docs.select(col("id"),
        graft.pipeline.TextAnalysis.fingerprint(col("text")).as("fp"))))
    assert(rows(sh.execute("PIPELINE TEXT PII ON Doc;").get) ===
      rows(docs.select(col("id"),
        graft.pipeline.TextAnalysis.redactPii(col("text"))
          .as("redacted"))))
    // the PII statement actually masks
    assert(sh.execute("PIPELINE TEXT PII ON Doc;").get
      .filter(col("redacted").contains("example.com")).count() === 0)
    assert(rows(sh.execute("PIPELINE TEXT REPETITION ON Doc;").get) ===
      rows(docs.select(col("id"),
        graft.pipeline.TextAnalysis.repetitionRatio(col("text"))
          .as("rep_ratio"))))
    // MEDIA over a real synthesized-codec label (PNG/BMP images, WAV
    // audio) and over a bare text label (opaque-payload wrap)
    val st2 = new GraphStore(spark)
    st2.attachNodes("images",
      graft.pipeline.Multimodal.synthesizeImages(docs, "id"), "id")
    st2.attachNodes("sounds",
      graft.pipeline.Multimodal.synthesizeWav(docs, "id"), "id")
    st2.attachNodes("Doc", docs, "id")
    val sh2 = new Shell(st2)
    assert(rows(sh2.execute("PIPELINE MEDIA IMAGE ON images;").get) ===
      rows(graft.pipeline.Multimodal.decode(
        graft.pipeline.Multimodal.synthesizeImages(docs, "id"))))
    assert(rows(sh2.execute("PIPELINE MEDIA AUDIO ON sounds;").get) ===
      rows(graft.pipeline.Multimodal.decodeAudio(
        graft.pipeline.Multimodal.synthesizeWav(docs, "id"))))
    assert(rows(sh2.execute("PIPELINE MEDIA IMAGE ON Doc;").get) ===
      rows(graft.pipeline.Multimodal.decode(
        graft.pipeline.Multimodal.attachBinary(docs, "id", "text"))))
    // MEDIA FRAMES over a real AVI label == the API twin
    val st3 = new GraphStore(spark)
    st3.attachNodes("videos",
      graft.pipeline.Multimodal.synthesizeAvi(docs, "id"), "id")
    assert(rows(new Shell(st3)
      .execute("PIPELINE MEDIA FRAMES ON videos WITH (k = 2);").get) ===
      rows(graft.pipeline.Multimodal.sampleVideoFrames(
        graft.pipeline.Multimodal.synthesizeAvi(docs, "id"), k = 2)))
    // frame-grain output refuses INTO
    val fe = intercept[IllegalArgumentException] {
      new Shell(st3).execute(
        "PIPELINE MEDIA FRAMES ON videos INTO frames;")
    }
    assert(fe.getMessage.contains("not document-grain"), fe.getMessage)
  }

  test("PIPELINE embedding families: COSINE / COSINE_LSH / ANN IVF " +
      "match their Scala-API twins") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val st = new GraphStore(spark)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.2f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("id", "embedding")
    st.attachNodes("vecs", vecs, "id")
    val sh = new Shell(st)
    val cos = sh.execute("PIPELINE DEDUP COSINE ON vecs WITH " +
      "(threshold = 0.9);").get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cos === Set((0L, 1L), (2L, 3L)))
    val lsh = sh.execute("PIPELINE DEDUP COSINE_LSH ON vecs WITH " +
      "(threshold = 0.9, planes = 4, tables = 2);").get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val api = graft.pipeline.Dedup.cosinePairsLsh(st.nodes("vecs"),
      "id", "embedding", threshold = 0.9, planes = 4, tables = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === api) // QL binding == API (LSH recall < 1 by design)
    val ivf = sh.execute("PIPELINE ANN IVF ON vecs QUERY IDS (0) WITH " +
      "(clusters = 2, iters = 1, probe = 2, k = 3);").get
    val ivfApi = {
      val c = graft.pipeline.Similarity.ivfTrain(st.nodes("vecs"),
        k = 2, iters = 1, idCol = "id", vecCol = "embedding")
      graft.pipeline.Similarity.ivfTopK(
        graft.pipeline.Similarity.ivfAssign(st.nodes("vecs"), c,
          idCol = "id", vecCol = "embedding"), c,
        st.nodes("vecs").filter(col("id") === 0), k = 3, nProbe = 2,
        idCol = "id", vecCol = "embedding")
    }
    assert(ivf.select("q_id", "nn_id", "rank").collect().toSet ===
      ivfApi.select("q_id", "nn_id", "rank").collect().toSet)
  }

  test("PIPELINE SEMDEDUP diagnostics: the cluster-skew probe's " +
      "warning reaches Shell.diagnostics (not just the driver log) " +
      "and clears on the next statement") {
    val store = new GraphStore(spark)
    val sh = new Shell(store)
    import spark.implicits._
    // degenerate: 4 identical vectors land in one cluster → 6 pairs,
    // over a max_pairs=1 budget → the probe must fire
    store.attachNodes("skewvecs", (0L until 4L)
      .map(i => (i, Array(1.0f, 0.0f))).toDF("id", "embedding"), "id")
    val kept = sh.execute("PIPELINE SEMDEDUP ON skewvecs WITH " +
      "(clusters = 1, iters = 1, threshold = 0.99, max_pairs = 1);").get
    assert(kept.collect().map(_.getAs[Long]("id")).toSet === Set(0L))
    val d = sh.diagnostics
    assert(d.exists(_.contains("semDedup: largest cluster")),
      s"expected the skew warning in diagnostics, got $d")
    assert(d.exists(_.contains("raise nClusters")), d.toString)
    // results were NOT mutated by the probe (probe-only contract):
    // 4 vectors, 3 dropped as ≥-threshold duplicates of id 0
    // a following statement with no warnings clears the channel
    sh.execute("PIPELINE SEMDEDUP ON skewvecs WITH " +
      "(clusters = 1, iters = 1, threshold = 0.99);")
    assert(sh.diagnostics.isEmpty, sh.diagnostics.toString)
  }

  test("PIPELINE HTTP: splits payloads like the API twin and chains " +
      "via INTO → TEXT STRIPHTML (the WARC→HTTP→text intake chain)") {
    val store = new GraphStore(spark)
    val sh = new Shell(store)
    import spark.implicits._
    def b(s: String) = s.getBytes("ISO-8859-1")
    val payloads = Seq(
      (0L, b("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
        "charset=utf-8\r\n\r\n<h1>T</h1><p>body cafÃ©</p>")),
      (1L, b("HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n" +
        "\r\n<p>gone</p>")),
      (2L, b("not http at all")))
    store.attachNodes("warcish", payloads.toDF("id", "payload"), "id")
    val split = sh.execute(
      "PIPELINE HTTP ON warcish INTO httpdocs;").get
    val api = graft.pipeline.Ingest.httpSplit(
      payloads.toDF("id", "payload"))
    assert(split.select("id", "status", "content_type", "charset",
        "text").collect().toSet ===
      api.select("id", "status", "content_type", "charset", "text")
        .collect().toSet)
    // the chain: headers are GONE from the clean text, tags stripped
    val clean = sh.execute("PIPELINE TEXT STRIPHTML ON httpdocs;").get
      .select("id", "clean").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean === Map(0L -> "T body café", 1L -> "gone",
      2L -> "not http at all"))
    // custom payload column name binds through the option
    store.attachNodes("warcish2",
      payloads.toDF("id", "blob"), "id")
    val split2 = sh.execute(
      "PIPELINE HTTP ON warcish2 WITH (payload = \"blob\");").get
    assert(split2.filter($"id" === 1L).head()
      .getAs[Int]("status") === 404)
  }

  test("PIPELINE TEXT C4 / TEXT NORMALIZE / DEDUP LINES: QL twins " +
      "match the API, options bind, unknown options refuse") {
    val store = new GraphStore(spark)
    val sh = new Shell(store)
    import spark.implicits._
    val docs = Seq(
      (1L, "This is a good sentence one.\nHere is a second good one!\n" +
        "And here is the third sentence.\nshared line"),
      (2L, "shared line\nOnly this good sentence here survives fine."))
      .toDF("id", "text")
    store.attachNodes("c4d", docs, "id")
    val c4 = sh.execute("PIPELINE TEXT C4 ON c4d;").get
    val c4api = graft.pipeline.TextAnalysis.c4Clean(docs, "id", "text")
    assert(rowBag(c4) === rowBag(c4api))
    // badwords option binds (token-grain, case-insensitive)
    val flagged = sh.execute(
      "PIPELINE TEXT C4 ON c4d WITH (badwords = \"shared\");").get
      .select("id", "c4_pass").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(flagged === Map(1L -> 0, 2L -> 0))
    // NORMALIZE: NFC default; form option binds (NFKC folds the
    // ligature); bad form refuses naming the forms
    store.attachNodes("nfcd",
      Seq((1L, "é ﬁ")).toDF("id", "text"), "id")
    assert(sh.execute("PIPELINE TEXT NORMALIZE ON nfcd;").get
      .head().getString(1) === "é ﬁ")
    assert(sh.execute(
      "PIPELINE TEXT NORMALIZE ON nfcd WITH (form = \"NFKC\");").get
      .head().getString(1) === "é fi")
    val badForm = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE TEXT NORMALIZE ON nfcd WITH (form = \"NO\");")
    }
    assert(badForm.getMessage.contains("NFKC"))
    // DEDUP LINES: keep-first, chains via INTO
    val dl = sh.execute("PIPELINE DEDUP LINES ON c4d INTO dlout;").get
    val dlapi = graft.pipeline.Curation.dedupLines(docs, "id", "text")
    assert(rowBag(dl) === rowBag(dlapi))
    assert(dl.filter($"id" === 2L).head().getAs[String]("clean_text")
      === "Only this good sentence here survives fine.")
    assert(store.nodes("dlout").count() === 2)
    // unknown option refuses naming the accepted keys
    val bad = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE DEDUP LINES ON c4d WITH (mink = 2);")
    }
    assert(bad.getMessage.contains("min_kept"))
  }

  test("PIPELINE TEXT GOPHERREP and URL block option: QL twins match " +
      "the API; blocked subdomains drop through the canonical step") {
    val store = new GraphStore(spark)
    val sh = new Shell(store)
    import spark.implicits._
    val docs = Seq(
      (1L, "dup line\ndup line\nunique one here"),
      (2L, "all distinct lines\nno repeats at all"))
      .toDF("id", "text")
    store.attachNodes("repd", docs, "id")
    assert(rowBag(sh.execute("PIPELINE TEXT GOPHERREP ON repd;").get)
      === rowBag(graft.pipeline.TextAnalysis.gopherRepetition(
        docs, "id", "text")))
    val urls = Seq(
      (1L, "HTTP://Ads.Tracker.NET:80/a?utm_source=x"),
      (2L, "https://ok.example/b"))
      .toDF("id", "url")
    store.attachNodes("urld", urls, "id")
    val kept = sh.execute("PIPELINE URL ON urld WITH (url = \"url\", " +
      "block = \"tracker.net\");").get.collect()
    assert(kept.map(_.getLong(0)).toSeq === Seq(2L))
    assert(kept.head.getString(1) === "https://ok.example/b")
  }

  test("PIPELINE SPANS SENTENCES: QL twin matches the API, k and " +
      "min_kept bind, chains via INTO") {
    val store = new GraphStore(spark)
    val sh = new Shell(store)
    import spark.implicits._
    val docs = Seq(
      (1L, "A one. B two. C three. X unique."),
      (2L, "A one. B two. C three. Y other."))
      .toDF("id", "text")
    store.attachNodes("sents", docs, "id")
    val out = sh.execute(
      "PIPELINE SPANS SENTENCES ON sents INTO sentout;").get
    assert(rowBag(out) === rowBag(
      graft.pipeline.Curation.dedupSentenceSpans(docs, "id", "text")))
    assert(store.nodes("sentout").count() === 2)
    // k = 2: the shared 2-sentence prefix also dedups
    val k2 = sh.execute(
      "PIPELINE SPANS SENTENCES ON sents WITH (k = 2);").get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(k2(2L) === "Y other.")
    // min_kept = 5 floors every doc out
    assert(sh.execute(
      "PIPELINE SPANS SENTENCES ON sents WITH (min_kept = 5);").get
      .count() === 0)
  }

  // ---- single-node UPDATE MATCH / DELETE WHERE: compiled by the
  // Planner's MATCH compiler (F3 typing, field-vs-field, scalar
  // expressions) over the label's raw columns

  private val people = """
    CREATE SCHEMA Person (name: STRING, age: INT64, cap: INT64);
    CREATE NODE Person (name = "Alice", age = 30, cap = 40);
    CREATE NODE Person (name = "Bob", age = 50, cap = 40);
    CREATE NODE Person (name = "Carol", age = 20, cap = 10);
    CREATE NODE Person (name = "Di", age = 5, cap = 6);
  """
  private def namesAges(sh: Shell): Map[Seq[Any], Int] =
    rowBag(sh.execute("MATCH (c:Person) SELECT c.name, c.age;").get)

  for (versioned <- Seq(false, true))
    test("a type-mismatched single-node UPDATE / DELETE WHERE fails at " +
        s"the statement and the label still reads (versioned = $versioned)") {
      val sh = new Shell(new GraphStore(spark, versioningEnabled = versioned))
      sh.execute(people)
      val before = namesAges(sh)
      val up = intercept[IllegalArgumentException] {
        sh.execute("UPDATE MATCH (c:Person) SET c.age = 1 WHERE c.name = 5;")
      }
      assert(up.getMessage.contains("numeric literal vs StringType"),
        up.getMessage)
      val del = intercept[IllegalArgumentException] {
        sh.execute("DELETE (c:Person) WHERE c.name = 5;")
      }
      assert(del.getMessage.contains("numeric literal vs StringType"),
        del.getMessage)
      val scope = intercept[IllegalArgumentException] {
        sh.execute("DELETE (c:Person) WHERE d.age > 1;")
      }
      assert(scope.getMessage.contains("alias d not in scope"))
      assert(namesAges(sh) === before && before.size === 4)
    }

  test("single-node DELETE / UPDATE WHERE take scalar expressions and " +
      "field-vs-field comparisons, like MATCH") {
    val sh = shell()
    sh.execute(people)
    sh.execute("DELETE (c:Person) WHERE length(c.name) > 4;")
    assert(namesAges(sh) === Map(Seq("Bob", 50L) -> 1, Seq("Di", 5L) -> 1))
    sh.execute("UPDATE MATCH (c:Person) SET c.name = \"over\" " +
      "WHERE c.age > c.cap;")
    assert(namesAges(sh) === Map(Seq("over", 50L) -> 1, Seq("Di", 5L) -> 1))
    sh.execute("DELETE (c:Person) WHERE c.cap > c.age + 0;")
    assert(namesAges(sh) === Map(Seq("over", 50L) -> 1))
  }

  test("the graph_write benchmark's UPDATE and DELETE WHERE forms compile " +
      "to the Column the shell built before") {
    import org.apache.spark.sql.functions.{col, lit}
    val store = new GraphStore(spark)
    import spark.implicits._
    store.attachNodes("customer", Seq((1L, 7, 120.5, "S"))
      .toDF("id", "nationkey", "acctbal", "mktsegment"), "id")
    val planner = new graft.planner.Planner(store)
    def where(stmt: String) = TundraQL.parseScript(stmt).head match {
      case TundraQL.UpdateMatchStmt(_, _, Some(w)) => w
      case TundraQL.DeletePatternStmt(_, Some(w))  => w
      case other => fail(s"not a mutation with a WHERE: $other")
    }
    // semantic equality of the two conditions, resolved on the label
    def same(a: org.apache.spark.sql.Column,
             b: org.apache.spark.sql.Column): Boolean = {
      def cond(c: org.apache.spark.sql.Column) = store.nodes("customer")
        .filter(c).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }.get
      cond(a).semanticEquals(cond(b))
    }
    val update = planner.compileWhere(where("UPDATE MATCH (c:customer) " +
      "SET c.mktsegment = \"SEG3\" WHERE c.nationkey = 7 AND " +
      "c.acctbal > -12;"), "c", "customer")
    assert(same(update, col("nationkey") === lit(7L) &&
      col("acctbal") > lit(-12L)), update.toString)
    val delete = planner.compileWhere(
      where("DELETE (c:customer) WHERE c.id = 42;"), "c", "customer")
    assert(same(delete, col("id") === lit(42L)), delete.toString)
  }

  test("PIPELINE INTO of a non-document-grain statement is refused " +
      "before the operator runs; the catalog is unchanged") {
    import spark.implicits._
    val store = new GraphStore(spark)
    val sh = new Shell(store)
    store.attachNodes("Labeled", Seq((0L, "en", "the cat and the dog"),
      (1L, "fr", "le chat et le chien")).toDF("id", "lang", "text"), "id")
    store.attachNodes("vecs", Seq((0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f))).toDF("id", "embedding"), "id")
    val labels = store.catalog.labels
    val sc = spark.sparkContext
    def jobsOf(stmt: String): (String, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(); ()
      }
      sc.addSparkListener(listener)
      try {
        val e = intercept[IllegalArgumentException](sh.execute(stmt))
        org.apache.spark.graftspec.ListenerBus.drain(sc)
        (e.getMessage, jobs.get)
      } finally sc.removeSparkListener(listener)
    }
    // LANGIDTRAIN emits one row per (label, rank): no node id
    val (trainMsg, _) = jobsOf("PIPELINE TEXT LANGIDTRAIN ON Labeled " +
      "WITH (label = \"lang\", k = 5) INTO prof;")
    assert(trainMsg.contains("not document-grain"), trainMsg)
    // IVF trains eagerly; a refused INTO must not pay for it
    val (ivfMsg, ivfJobs) = jobsOf("PIPELINE ANN IVF ON vecs QUERY IDS (0) " +
      "WITH (clusters = 2, iters = 1) INTO ranked;")
    assert(ivfMsg.contains("not document-grain") && ivfJobs === 0,
      s"$ivfJobs job(s): $ivfMsg")
    assert(store.catalog.labels === labels)
    // the label is still free: a document-grain INTO takes it
    sh.execute("PIPELINE TEXT LANGID ON Labeled INTO prof;")
    assert(store.nodes("prof").count() === 2)
  }

  test("the PIPELINE table names every statement in the unknown-statement " +
      "message and every document-grain one in the INTO refusal") {
    val sh = shell()
    sh.execute("CREATE SCHEMA Doc (text: STRING);")
    val unknown = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE FROBNICATE ON Doc;")
    }.getMessage
    val into = intercept[IllegalArgumentException] {
      sh.execute("PIPELINE SPANS ON Doc INTO spans;")
    }.getMessage
    // "DEDUP ([EXACT|LINES])" lists DEDUP, DEDUP EXACT and DEDUP LINES
    def named(msg: String, family: String, variant: Option[String]) =
      msg.split("families: |INTO supports ").last.split(", ").exists { g =>
        val parts = g.split("[\\[\\]()|]").map(_.trim).filter(_.nonEmpty)
        parts.head == family && variant.fold(
          parts.length == 1 || g.contains("(["))(parts.tail.contains)
      }
    Shell.pipelines.foreach { case ((family, variant), op) =>
      assert(named(unknown, family, variant), s"$family $variant: $unknown")
      assert(named(into, family, variant) === op.docGrain,
        s"$family $variant: $into")
    }
  }
}
