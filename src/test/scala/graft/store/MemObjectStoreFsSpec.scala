package graft.store

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** Hadoop-contract fidelity gates for [[MemObjectStoreFileSystem]] — the
  * double must not be MORE permissive than the stores it models (HDFS /
  * S3A), or it silently masks data-plane committer bugs (r9 ADVICE).
  */
class MemObjectStoreFsSpec extends AnyFunSuite with graft.TempFiles {

  private def freshFs(bucket: String): MemObjectStoreFileSystem = {
    MemObjectStore.clear(bucket)
    val fs = new MemObjectStoreFileSystem
    fs.initialize(URI.create(s"mem://$bucket/"), new Configuration())
    fs
  }

  private def write(fs: MemObjectStoreFileSystem, p: String,
                    s: String): Unit = {
    val out = fs.create(new HPath(p), true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  test("rename onto an existing FILE fails (HDFS/S3A contract), " +
      "leaving both files untouched") {
    val fs = freshFs("fscontract")
    write(fs, "mem://fscontract/a", "src-bytes")
    write(fs, "mem://fscontract/b", "dst-bytes")
    assert(!fs.rename(new HPath("mem://fscontract/a"),
      new HPath("mem://fscontract/b")))
    val bkt = MemObjectStore.bucket("fscontract")
    assert(new String(bkt.get("a").get.bytes, "UTF-8") === "src-bytes")
    assert(new String(bkt.get("b").get.bytes, "UTF-8") === "dst-bytes")
  }

  test("rename into an existing DIRECTORY moves the source under it, " +
      "but fails if that slot is already a file") {
    val fs = freshFs("fsdir")
    write(fs, "mem://fsdir/src", "payload")
    fs.mkdirs(new HPath("mem://fsdir/d"))
    assert(fs.rename(new HPath("mem://fsdir/src"),
      new HPath("mem://fsdir/d")))
    val bkt = MemObjectStore.bucket("fsdir")
    assert(bkt.get("d/src").isDefined && bkt.get("src").isEmpty)
    // a second file renamed to the same occupied slot must fail
    write(fs, "mem://fsdir/src", "other")
    assert(!fs.rename(new HPath("mem://fsdir/src"),
      new HPath("mem://fsdir/d")))
    assert(new String(bkt.get("d/src").get.bytes, "UTF-8") === "payload")
  }

  /** One Bucket-contract exercise both doubles must satisfy identically:
    * the conditional ops' semantics are what the commit protocol rides
    * on, so MemBucket (CHM computes) and FileBucket (OS-lock-serialized
    * shared files) are held to the same behavior. */
  private def bucketContract(bkt: MemObjectStore.Bucket): Unit = {
    def b(s: String) = s.getBytes("UTF-8")
    // put-if-absent: exactly one creator
    assert(bkt.putIfAbsent("k", b("v1")).isDefined)
    assert(bkt.putIfAbsent("k", b("v2")).isEmpty)
    val g1 = bkt.get("k").get
    assert(new String(g1.bytes, "UTF-8") === "v1")
    // put-if-match: stale etag loses, fresh wins, etag advances
    assert(bkt.putIfMatch("k", b("v3"), g1.etag - 1).isEmpty)
    val g2 = bkt.putIfMatch("k", b("v3"), g1.etag).get
    assert(g2.etag > g1.etag)
    // unconditional put replaces and advances
    val g3 = bkt.put("k", b("v4"))
    assert(g3.etag > g2.etag)
    // delete-if-match: displaced holder (old etag) cannot delete
    assert(!bkt.deleteIfMatch("k", g2.etag))
    assert(bkt.get("k").isDefined)
    assert(bkt.deleteIfMatch("k", g3.etag))
    assert(bkt.get("k").isEmpty)
    // list-by-prefix sees exactly the live keys, with payloads
    bkt.put("p/a", b("A")); bkt.put("p/b", b("B")); bkt.put("q/c", b("C"))
    val listed = bkt.listPrefix("p/").map {
      case (k, o) => k -> new String(o.bytes, "UTF-8")
    }.toMap
    assert(listed === Map("p/a" -> "A", "p/b" -> "B"))
    // dir records are independent of objects
    bkt.mkdir("d/e")
    assert(bkt.isExplicitDir("d/e") && !bkt.isExplicitDir("d"))
    assert(bkt.listDirsPrefix("d/") === Seq("d/e"))
    bkt.rmdir("d/e")
    assert(!bkt.isExplicitDir("d/e"))
    // concurrent put-if-absent: exactly one of 16 racers creates
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val barrier = new java.util.concurrent.CyclicBarrier(16)
    val ts = (1 to 16).map(i => new Thread(() => {
      barrier.await()
      if (bkt.putIfAbsent("race", b(s"w$i")).isDefined)
        wins.incrementAndGet()
      ()
    }))
    ts.foreach(_.start()); ts.foreach(_.join(30000))
    assert(wins.get() === 1, s"${wins.get()} racers won put-if-absent")
    // concurrent CAS increments: every successful swap is serialized
    val cas = new java.util.concurrent.atomic.AtomicInteger(0)
    bkt.put("ctr", b("0"))
    val ts2 = (1 to 8).map(_ => new Thread(() => {
      var done = 0
      while (done < 10) {
        val cur = bkt.get("ctr").get
        val n = new String(cur.bytes, "UTF-8").toInt
        if (bkt.putIfMatch("ctr", b((n + 1).toString), cur.etag)
            .isDefined) { done += 1; cas.incrementAndGet(); () }
      }
    }))
    ts2.foreach(_.start()); ts2.foreach(_.join(60000))
    assert(cas.get() === 80)
    assert(new String(bkt.get("ctr").get.bytes, "UTF-8") === "80",
      "lost update: CAS swaps were not serialized")
  }

  test("Bucket contract: in-memory double") {
    MemObjectStore.clear("contract-mem")
    bucketContract(MemObjectStore.bucket("contract-mem"))
  }

  test("Bucket contract: file-backed double (identical semantics over " +
      "OS-lock-serialized shared files)") {
    val dir = java.nio.file.Paths.get(tmpDir("graft-filebucket"))
    bucketContract(
      MemObjectStore.bindFileBucket("contract-file", dir))
  }

  test("file-backed generation counter survives a crash mid-stage: " +
      "a torn .gen.staging never poisons subsequent etags") {
    val dir = java.nio.file.Paths.get(tmpDir("graft-fb-gen"))
    val bkt = MemObjectStore.bindFileBucket("contract-gen", dir)
    val o1 = bkt.put("k", "a".getBytes("UTF-8"))
    // simulate a process killed between staging and the atomic move:
    // the staging file holds garbage, the live .gen is intact
    java.nio.file.Files.write(dir.resolve(".gen.staging"),
      "torn-garb".getBytes("UTF-8"))
    val o2 = bkt.put("k", "b".getBytes("UTF-8"))
    assert(o2.etag === o1.etag + 1,
      "a torn staging file must not perturb the generation sequence")
    // the live counter is always a parseable long (the atomic move either
    // lands the new value or leaves the old one — never a truncation)
    val gen = new String(java.nio.file.Files.readAllBytes(
      dir.resolve(".gen")), "UTF-8").trim.toLong
    assert(gen === o2.etag)
  }

  test("file-backed backdate preserves bytes and etag, changes mtime " +
      "(lease-expiry clock control)") {
    val dir = java.nio.file.Paths.get(tmpDir("graft-fb-bd"))
    val bkt = MemObjectStore.bindFileBucket("contract-bd", dir)
    val o = bkt.put("lease", "holder".getBytes("UTF-8"))
    bkt.backdate("lease", o.mtime - 120000)
    val after = bkt.get("lease").get
    assert(after.etag === o.etag, "backdate must not mint a generation")
    assert(after.mtime === o.mtime - 120000)
    assert(new String(after.bytes, "UTF-8") === "holder")
  }

  test("double-close PUTs exactly once: no new generation for an " +
      "etag-conditioned observer to spuriously lose against") {
    val fs = freshFs("fsclose")
    val out = fs.create(new HPath("mem://fsclose/k"), true)
    out.write("bytes".getBytes("UTF-8"))
    out.close()
    val bkt = MemObjectStore.bucket("fsclose")
    val etag = bkt.get("k").get.etag
    out.close() // Hadoop stream wrappers commonly double-close
    assert(bkt.get("k").get.etag === etag,
      "second close minted a new generation")
    // an etag-conditioned CAS taken before the double-close still wins
    assert(bkt.putIfMatch("k", "swapped".getBytes("UTF-8"), etag).isDefined)
  }
}
