package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The per-JVM scratch root: the session's warehouse lives under it, and
  * its exit hook removes a whole tree. The hook is run on a directory
  * this spec creates, never on the shared root other suites write to. */
class ScratchSpec extends AnyFunSuite {

  test("the session warehouse sits under the JVM's scratch root") {
    val wh = TestSpark.spark.conf.get("spark.sql.warehouse.dir")
    assert(wh.contains(Scratch.root.toString), s"$wh not under ${Scratch.root}")
    assert(Files.isDirectory(Scratch.root))
    assert(Scratch.root.getFileName.toString.startsWith("graft-jvm-"))
  }

  test("the exit hook runs after Spark's shutdown hooks") {
    // Spark runs its hooks (the SparkContext stop among them) from one
    // hook registered with Hadoop's manager; a lower priority runs later.
    TestSpark.spark
    Scratch.root
    val hooks = org.apache.hadoop.util.GraftShutdownHooks.inRunOrder
    val spark = hooks.filter(_._1.startsWith("org.apache.spark.")).map(_._2)
    val scratch = hooks.filter(_._1.startsWith("graft.Scratch")).map(_._2)
    assert(spark.nonEmpty && scratch.nonEmpty, hooks.mkString(", "))
    assert(scratch.max < spark.min, hooks.mkString(", "))
    assert(scratch.contains(Scratch.HookPriority), hooks.mkString(", "))
  }

  test("the deletion hook removes a root and everything nested under it") {
    val dir = Files.createTempDirectory("graft-scratchspec-")
    val deep = Files.createDirectories(dir.resolve("a/b/c"))
    Files.write(deep.resolve("part-0"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("a/top.json"), "{}".getBytes)
    Files.createDirectories(dir.resolve("empty"))
    Scratch.deletion(dir).run()
    assert(!Files.exists(dir))
    Scratch.deletion(dir).run() // a second run (root already gone) is a no-op
  }
}
