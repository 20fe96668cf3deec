package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Temp directories and files made by the running test, removed with
  * their contents when it ends (pass or fail). */
trait TempFiles extends TestSuiteMixin { this: TestSuite =>
  private val made = scala.collection.mutable.ArrayBuffer[File]()

  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    made += d
    d.toString
  }

  def tmpFile(prefix: String, suffix: String): Path = {
    val f = Files.createTempFile(prefix, suffix)
    made += f.toFile
    f
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      def rm(f: File): Unit = {
        if (!Files.isSymbolicLink(f.toPath))
          Option(f.listFiles()).getOrElse(Array()).foreach(rm)
        f.delete(); ()
      }
      made.foreach(rm)
      made.clear()
    }
}
