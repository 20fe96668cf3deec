package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Ingest

/** Round-trip and failure-path coverage for the compressed-JSONL
  * ingestion operator ([[Ingest]]): zstd/gzip/plain shards in one
  * directory (per-file magic sniff), newline-bearing text through JSON
  * escaping, strict-vs-monitoring corrupt handling, and the shard
  * writer's idempotent overwrite. */
class IngestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  private def tmpDir(): String = tmpDir("graft_ingest_spec")

  test("zstd round-trip: shards written by executors, re-ingested " +
      "exactly, multi-line text survives JSON escaping") {
    import spark.implicits._
    val dir = tmpDir()
    val docs = Seq((0L, "plain text"), (1L, "line one\nline two"),
      (2L, "unicode é中文 ok"), (3L, "")).toDF("id", "text")
    Ingest.writeJsonlZst(docs, dir, shards = 2)
    assert(new File(dir).listFiles().count(_.getName.endsWith(
      ".jsonl.zst")) === 2)
    val back = Ingest.jsonlFiles(spark, dir + "/*.jsonl.zst", schema,
      strict = true)
    assert(rowBag(back.select("id", "text")) === rowBag(docs))
    // idempotent overwrite: a second export leaves exactly 2 shards
    Ingest.writeJsonlZst(docs, dir, shards = 2)
    assert(new File(dir).listFiles().count(_.getName.endsWith(
      ".jsonl.zst")) === 2)
  }

  test("mixed directory: zstd, gzip and plain shards sniff per file") {
    val dir = tmpDir()
    def write(name: String, body: Array[Byte]): Unit =
      Files.write(new File(dir, name).toPath, body)
    val l1 = "{\"id\": 1, \"text\": \"from plain\"}\n"
    val l2 = "{\"id\": 2, \"text\": \"from gzip\"}\n"
    write("a.jsonl", l1.getBytes("UTF-8"))
    val gz = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(gz)
    g.write(l2.getBytes("UTF-8")); g.close()
    write("b.jsonl.gz", gz.toByteArray)
    write("c.jsonl.zst", com.github.luben.zstd.Zstd.compress(
      "{\"id\": 3, \"text\": \"from zstd\"}\n".getBytes("UTF-8")))
    val back = Ingest.jsonlFiles(spark, dir + "/*", schema)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[String]("text")).toMap
    assert(back === Map(1L -> "from plain", 2L -> "from gzip",
      3L -> "from zstd"))
  }

  test("corrupt lines: monitoring mode surfaces null rows with the " +
      "source file; strict mode fails naming file and line") {
    val dir = tmpDir()
    Files.write(new File(dir, "bad.jsonl").toPath,
      ("{\"id\": 1, \"text\": \"fine\"}\nNOT JSON AT ALL\n" +
        "{\"id\": 2, \"text\": \"also fine\"}\n").getBytes("UTF-8"))
    val lax = Ingest.jsonlFiles(spark, dir + "/*.jsonl", schema)
    assert(lax.count() === 3)
    val nulls = lax.filter(col("id").isNull && col("text").isNull)
    assert(nulls.count() === 1)
    assert(nulls.collect()(0).getAs[String]("_input_file")
      .endsWith("bad.jsonl"))
    val err = intercept[Exception] {
      Ingest.jsonlFiles(spark, dir + "/*.jsonl", schema, strict = true)
        .count()
    }
    val msg = Option(err.getMessage).getOrElse("") +
      Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("unparsable JSONL") || msg.contains("NOT JSON"),
      s"strict error should name the line: $err")
  }

  test("WARC round-trip: gzipped response records, byte-exact bodies " +
      "through multi-byte UTF-8, CRLFs inside payloads, empty bodies") {
    import spark.implicits._
    val dir = tmpDir()
    // payloads chosen to break length-naive parsers: CRLF inside the
    // body (looks like a record boundary), multi-byte UTF-8 (chars
    // != bytes), an empty body, and a body that starts "WARC/1.0"
    val docs = Seq(
      (0L, "plain body", "src0"),
      (1L, "crlf\r\n\r\ninside", "src1"),
      (2L, "unicode é中文 𝄞 ok", "src2"),
      (3L, "", "src3"),
      (4L, "WARC/1.0 lookalike body", "src4")
    ).toDF("id", "text", "source")
    Ingest.writeWarcGz(docs, dir, shards = 2)
    assert(new File(dir).listFiles().count(_.getName.endsWith(
      ".warc.gz")) === 2)
    val back = Ingest.warcFiles(spark, dir + "/*.warc.gz")
      .select(
        regexp_extract(col("target_uri"), "/(\\d+)$", 1)
          .cast("long").as("id"),
        col("payload").cast("string").as("text"),
        regexp_extract(col("target_uri"), "^http://([^/]+)/", 1)
          .as("source"))
    assert(rowBag(back) === rowBag(docs))
    assert(Ingest.warcFiles(spark, dir + "/*.warc.gz")
      .collect().forall(_.getAs[String]("warc_type") === "response"))
  }

  test("WARC property: seeded random payloads — arbitrary unicode, " +
      "CRLF runs, header-lookalike lines, empty — round-trip " +
      "byte-exact across 5 seeds") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val alphabet: IndexedSeq[String] = IndexedSeq(
        "a", "Z", "9", " ", "\r\n", "\n", "\r", "é", "中", "𝄞", "�",
        "WARC/1.0", "Content-Length: 7", "\r\n\r\n", "\t", "\"", "'")
      def randText(): String =
        (0 until rnd.nextInt(60)).map(_ =>
          alphabet(rnd.nextInt(alphabet.length))).mkString
      val docs = (0L until 40L).map(i => (i, randText(), s"s${i % 3}"))
        .toDF("id", "text", "source")
      val dir = tmpDir()
      Ingest.writeWarcGz(docs, dir, shards = 3)
      val back = Ingest.warcFiles(spark, dir + "/*.warc.gz")
        .select(
          regexp_extract(col("target_uri"), "/(\\d+)$", 1)
            .cast("long").as("id"),
          col("payload").cast("string").as("text"),
          regexp_extract(col("target_uri"), "^http://([^/]+)/", 1)
            .as("source"))
      assert(rowBag(back) === rowBag(docs), s"seed=$seed")
    }
  }

  test("WARC salvage: a torn shard yields its well-formed prefix; " +
      "non-WARC bytes yield zero records, never a crash") {
    import spark.implicits._
    val dir = tmpDir()
    val docs = Seq((0L, "first record", "s"), (1L, "second record", "s"),
      (2L, "third record", "s")).toDF("id", "text", "source")
    Ingest.writeWarcGz(docs, dir, shards = 1)
    // re-gzip a truncated decompressed stream: cut inside record 2
    val full = {
      val in = new java.util.zip.GZIPInputStream(
        Files.newInputStream(new File(dir, "part-00000.warc.gz").toPath))
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close(); out.toByteArray
    }
    val tornDir = tmpDir()
    val gz = new GZIPOutputStream(
      Files.newOutputStream(new File(tornDir, "torn.warc.gz").toPath))
    gz.write(full, 0, full.length * 2 / 3); gz.close()
    val salvaged = Ingest.warcFiles(spark, tornDir + "/*.warc.gz")
    val got = salvaged.collect()
    assert(got.length >= 1 && got.length < 3,
      s"expected a salvaged prefix, got ${got.length}")
    assert(got.head.getAs[String]("target_uri").nonEmpty)
    // junk file: no records
    val junkDir = tmpDir()
    Files.write(new File(junkDir, "junk.warc").toPath,
      "this is not a warc file at all".getBytes("UTF-8"))
    assert(Ingest.warcFiles(spark, junkDir + "/*.warc").count() === 0)
  }

  test("httpSplit: status/content-type/charset parsed, charset-aware " +
      "body decode with the RFC 3629 sieve fallback, non-HTTP salvage") {
    import spark.implicits._
    def b(s: String) = s.getBytes("ISO-8859-1")
    val rows = Seq(
      // utf-8 declared + valid bytes → utf-8 decode
      ("utf8", b("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
        "charset=utf-8\r\n\r\n<p>cafÃ©</p>")),
      // latin-1 declared (quoted, mixed case) → byte view
      ("latin1", b("HTTP/1.0 404 Not Found\r\nContent-Type: " +
        "TEXT/Plain; charset=\"ISO-8859-1\"\r\n\r\nnot found é")),
      // utf-8 DECLARED but malformed (lone 0xE9) → latin-1 salvage,
      // never a MALFORMED_CHARACTER_CODING throw
      ("lies", b("HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
        "charset=utf-8\r\n\r\nbroken é byte")),
      // undeclared charset, valid utf-8 bytes → sieve routes to utf-8
      ("sniff", b("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        "ok Ã©")),
      // not an HTTP message → whole payload is the body, status null
      ("raw", b("just resource bytes")),
      // headers only, empty body
      ("empty", b("HTTP/1.1 301 Moved\r\nLocation: http://x/\r\n\r\n")),
      ("nullp", null.asInstanceOf[Array[Byte]]))
      .toDF("k", "payload")
    val got = Ingest.httpSplit(rows)
      .select(col("k"), col("status"), col("content_type"),
        col("charset"), col("text"), length(col("body")).as("blen"))
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) -1 else r.getInt(1)),
          Option(r.getString(2)).orNull, Option(r.getString(3)).orNull,
          r.getString(4), r.getInt(5))).toMap
    assert(got("utf8") === ((200, "text/html", "utf-8",
      "<p>café</p>", 12)))
    assert(got("latin1") === ((404, "text/plain", "iso-8859-1",
      "not found é", 11)))
    assert(got("lies") === ((200, "text/plain", "utf-8",
      "broken é byte", 13)))
    assert(got("sniff") === ((200, "text/html", null, "ok é", 5)))
    assert(got("raw") === ((-1, null, null, "just resource bytes", 19)))
    assert(got("empty") === ((301, null, null, "", 0)))
    assert(got("nullp") === ((-1, null, null, "", 0)))
  }

  test("httpSplit: LF-only header boundary and chunked " +
      "Transfer-Encoding dechunk — size lines never reach text") {
    import spark.implicits._
    def b(s: String) = s.getBytes("ISO-8859-1")
    val rows = Seq(
      // LF-only framing (old servers): headers still parse, body
      // starts after the bare \n\n
      ("lfonly", b("HTTP/1.1 200 OK\nContent-Type: text/plain; " +
        "charset=utf-8\nContent-Length: 5\n\nhello")),
      // mixed: CRLF header lines, LF-only blank line
      ("mixed", b("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
        "\nbody here")),
      // chunked: two chunks + extension + trailer section — the size
      // lines, extension and trailer must all vanish
      ("chunked", b("HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/plain\r\nTransfer-Encoding: chunked\r\n" +
        "\r\n5;ext=1\r\nhello\r\n6\r\n world\r\n0\r\n" +
        "X-Trailer: t\r\n\r\n")),
      // chunked with LF-only chunk framing
      ("chunklf", b("HTTP/1.1 200 OK\nTransfer-Encoding: chunked\n" +
        "\n3\nabc\n0\n\n")),
      // MALFORMED chunk framing (bad hex) → salvage: raw body kept
      ("badhex", b("HTTP/1.1 200 OK\r\n" +
        "Transfer-Encoding: chunked\r\n\r\nzz\r\nbody")),
      // truncated chunk (size past end) → salvage
      ("trunc", b("HTTP/1.1 200 OK\r\n" +
        "Transfer-Encoding: chunked\r\n\r\nff\r\nshort")))
      .toDF("k", "payload")
    val got = Ingest.httpSplit(rows)
      .select(col("k"), col("status"), col("text"))
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getString(2)))).toMap
    assert(got("lfonly") === ((200, "hello")))
    assert(got("mixed") === ((200, "body here")))
    assert(got("chunked") === ((200, "hello world")))
    assert(got("chunklf") === ((200, "abc")))
    assert(got("badhex") === ((200, "zz\r\nbody")))
    assert(got("trunc") === ((200, "ff\r\nshort")))
    // the dechunker itself: empty body, size-0-only, uppercase hex,
    // leading whitespace on the size line
    import graft.functions.HttpDechunk.dechunk
    assert(dechunk("0\r\n\r\n") === "")
    assert(dechunk("A\r\n0123456789\r\n0\r\n\r\n") === "0123456789")
    assert(dechunk(" 3\r\nabc\r\n0\r\n\r\n") === "abc")
    assert(dechunk("") === "")          // no \n at all → salvage
    assert(dechunk("3\r\nabcX0\r\n\r\n") === "3\r\nabcX0\r\n\r\n")
  }

  test("httpSplit: declared exotic charsets decode via the JVM " +
      "registry; unknown names and lying headers fall to the sieve") {
    import spark.implicits._
    def payload(cs: String, body: Array[Byte]) =
      ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
        s"charset=$cs\r\n\r\n").getBytes("US-ASCII") ++ body
    val rows = Seq(
      ("sjis", payload("shift_jis", "日本語テキスト".getBytes("shift_jis"))),
      ("eucjp", payload("euc-jp", "日本語".getBytes("euc-jp"))),
      ("gbk", payload("gbk", "中文文本".getBytes("gbk"))),
      ("big5", payload("big5", "中文文字".getBytes("big5"))),
      ("euckr", payload("euc-kr", "한국어".getBytes("euc-kr"))),
      ("koi8", payload("koi8-r", "русский".getBytes("koi8-r"))),
      // unknown charset name, valid-UTF-8 body → sieve takes it
      ("unknown", payload("x-not-a-charset", "café".getBytes("UTF-8"))),
      // LYING header: declared shift_jis, but the body is a lone
      // lead byte (0x85 expects a trail byte) → strict decode fails,
      // sieve salvages the Latin-1 byte view (never a throw, never
      // mojibake-by-charset)
      ("lying", payload("shift_jis", Array[Byte](0x85.toByte))))
      .toDF("k", "payload")
    val got = Ingest.httpSplit(rows)
      .select(col("k"), col("charset"), col("text"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2)))).toMap
    assert(got("sjis") === (("shift_jis", "日本語テキスト")))
    assert(got("eucjp") === (("euc-jp", "日本語")))
    assert(got("gbk") === (("gbk", "中文文本")))
    assert(got("big5") === (("big5", "中文文字")))
    assert(got("euckr") === (("euc-kr", "한국어")))
    assert(got("koi8") === (("koi8-r", "русский")))
    assert(got("unknown") === (("x-not-a-charset", "café")))
    assert(got("lying") === (("shift_jis", "\u0085")))
    // the expression itself: null contract on unknown / malformed
    import graft.functions.CharsetDecode.decodeOrNull
    assert(decodeOrNull("abc".getBytes, "nope-cs") === null)
    assert(decodeOrNull(Array[Byte](0x80.toByte), "shift_jis") === null)
    assert(decodeOrNull("日本".getBytes("euc-jp"), "euc-jp").toString
      === "日本")
  }

  test("httpWrap round trip: writeWarcGz(httpWrap) → warcFiles → " +
      "httpResponses reproduces the text; CR/LF in source can never " +
      "inject headers or desync framing") {
    import spark.implicits._
    val dir = tmpDir()
    val docs = Seq(
      (0L, "plain body", "src0"),
      (1L, "crlf\r\n\r\ninside body", "src1"),
      (2L, "unicode é中文 𝄞 ok", "src2"),
      (3L, null.asInstanceOf[String], "src3"),
      // header-injection attempt: a CRLF-bearing source would write
      // "WARC-Target-URI: http://evil\r\nContent-Length: 0/4" and
      // truncate every following record (advice r14) — the writer
      // strips [\r\n] so framing survives and all 5 records come back
      (4L, "still here", "evil\r\nContent-Length: 0")
    ).toDF("id", "text", "source")
    Ingest.writeWarcGz(docs, dir, shards = 2, httpWrap = true)
    val back = Ingest.httpResponses(
      Ingest.warcFiles(spark, dir + "/*.warc.gz"))
    assert(back.count() === 5)
    val byId = back.select(
      regexp_extract(col("target_uri"), "/(\\d+)$", 1)
        .cast("long").as("id"),
      col("status"), col("content_type"), col("charset"), col("text"),
      regexp_extract(col("target_uri"), "^http://([^/]+)/", 1)
        .as("source"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getString(3), r.getString(4),
          r.getString(5)))).toMap
    assert(byId(0L) === ((200, "text/html", "utf-8", "plain body",
      "src0")))
    assert(byId(1L)._4 === "crlf\r\n\r\ninside body") // length-framed
    assert(byId(2L)._4 === "unicode é中文 𝄞 ok")
    assert(byId(3L)._4 === "") // null text writes as empty body
    assert(byId(4L) === ((200, "text/html", "utf-8", "still here",
      "evilContent-Length: 0"))) // sanitized, record intact
  }

  test("WARC header keys parse under a Turkish default locale " +
      "(Locale.ROOT lowercasing — 'URI' must not become 'urı')") {
    import spark.implicits._
    val dir = tmpDir()
    Ingest.writeWarcGz(Seq((7L, "gövde", "kaynak"))
      .toDF("id", "text", "source"), dir, shards = 1)
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(
        java.util.Locale.forLanguageTag("tr-TR"))
      val got = Ingest.warcFiles(spark, dir + "/*.warc.gz").collect()
      assert(got.length === 1)
      assert(got.head.getAs[String]("target_uri") ===
        "http://kaynak/7")
      assert(got.head.getAs[String]("warc_type") === "response")
    } finally java.util.Locale.setDefault(prev)
  }

  test("WET round trip: writeWetGz → wetFiles — warcinfo skipped, " +
      "UTF-8 text decodes, URI round-trips") {
    import spark.implicits._
    val dir = tmpDir()
    val docs = Seq(
      (0L, "plain text line", "src0"),
      (1L, "unicode é中文 𝄞 ok", "src1"),
      (2L, "", "src2"),
      (3L, "crlf\r\n\r\ninside stays", "src3"),
      // non-ASCII source round-trips through the UTF-8 header line
      // (advice r15 — previously '?'-substituted by US-ASCII encode)
      (4L, "text", "日本.example")
    ).toDF("id", "text", "source")
    Ingest.writeWetGz(docs, dir, shards = 2)
    assert(new File(dir).listFiles().count(_.getName.endsWith(
      ".warc.wet.gz")) === 2)
    val back = Ingest.wetFiles(spark, dir + "/*.wet.gz")
      .select(
        regexp_extract(col("target_uri"), "/(\\d+)$", 1)
          .cast("long").as("id"),
        col("text"),
        regexp_extract(col("target_uri"), "^http://([^/]+)/", 1)
          .as("source"))
    assert(rowBag(back) === rowBag(docs))
    // the warcinfo header record every shard opens with is type-
    // filtered out, but IS present in the raw record stream
    val raw = Ingest.warcFiles(spark, dir + "/*.wet.gz")
    assert(raw.filter(col("warc_type") === "warcinfo").count() === 2)
    assert(raw.count() === 7)
  }

  test("WET salvage: a conversion record whose payload is NOT valid " +
      "UTF-8 falls back to the lossless Latin-1 byte view") {
    val dir = tmpDir()
    val bytes = Array[Byte]('a', 'b', 0xE9.toByte, 'c') // bare Latin-1 é
    val rec = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(rec)
    val hdr = ("WARC/1.0\r\n" +
      "WARC-Type: conversion\r\n" +
      "WARC-Target-URI: http://x/9\r\n" +
      "Content-Type: text/plain\r\n" +
      s"Content-Length: ${bytes.length}\r\n" +
      "\r\n").getBytes("US-ASCII")
    gz.write(hdr); gz.write(bytes)
    gz.write("\r\n\r\n".getBytes("US-ASCII")); gz.close()
    Files.write(new File(dir, "part-00000.warc.wet.gz").toPath,
      rec.toByteArray)
    val got = Ingest.wetFiles(spark, dir + "/*.wet.gz").collect()
    assert(got.length === 1)
    assert(got.head.getAs[String]("text") === "ab\u00e9c")
  }

  test("WAT round trip: writeWatGz → watFiles — metadata records, " +
      "JSON envelope fields parse through the caller's schema") {
    import spark.implicits._
    val dir = tmpDir()
    val docs = Seq(
      (0L, "short", "src0"),
      (1L, "unicode é中文", "src1"),
      (2L, "", "src2"),
      // non-ASCII source (advice r15): the WARC header line and the
      // JSON envelope URL must stay IDENTICAL — the header used to
      // ASCII-'?'-substitute while the envelope kept the UTF-8 value
      (3L, "body", "müller.example")
    ).toDF("id", "text", "source")
    Ingest.writeWatGz(docs, dir, shards = 2)
    // schema prunes INTO the nested CommonCrawl envelope
    val schema = StructType(Seq(
      StructField("Envelope", StructType(Seq(
        StructField("WARC-Header-Metadata", StructType(Seq(
          StructField("WARC-Target-URI", StringType)))),
        StructField("Payload-Metadata", StructType(Seq(
          StructField("Actual-Content-Length", LongType))))))),
      StructField("source", StringType)))
    val back = Ingest.watFiles(spark, dir + "/*.wat.gz", schema)
      .select(col("target_uri"),
        col("Envelope")("WARC-Header-Metadata")("WARC-Target-URI")
          .as("url"),
        col("Envelope")("Payload-Metadata")("Actual-Content-Length")
          .as("length"),
        col("source"))
    val rows = back.collect().map(r =>
      (r.getAs[String]("url"), r.getAs[Long]("length"),
        r.getAs[String]("source"))).toSet
    assert(rows === Set(
      ("http://src0/0", 5L, "src0"),
      ("http://src1/1", 11L, "src1"),
      ("http://src2/2", 0L, "src2"),
      ("http://müller.example/3", 4L, "müller.example")))
    // target_uri from the WARC header agrees with the envelope url
    assert(back.filter(col("target_uri") =!= col("url")).count() === 0)
  }
}
