package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

import graft.sink.MorLog

/** The keyed commit kernel shared by `MorLog.upsert` and
  * `MorLog.mergeInto`: what it refuses before anything commits. */
class KeyedCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def chain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" <- ")

  test("upsert and mergeInto refuse a NULL key with a NULL-key message and commit nothing") {
    val dir = s"${Files.createTempDirectory("graft-nullkey-")}/t"
    MorLog.create(Seq[(java.lang.Long, Long)]((1L, 10L), (2L, 20L))
      .toDF("k", "v"), dir)
    val nullRow = Seq[(java.lang.Long, Long)]((null, 30L), (3L, 31L))
      .toDF("k", "v")
    // a NULL key matches no row: accepted, every replay of the same
    // batch would add another visible row under a key-unique tag
    val cases: Seq[(String, () => Any)] = Seq(
      "upsert" -> (() => MorLog.upsert(spark, dir, nullRow, "k")),
      "mergeInto" -> (() => MorLog.mergeInto(spark, dir,
        nullRow.withColumn("op", lit("U")), "k", "op")))
    cases.foreach { case (who, op) =>
      val e = intercept[IllegalArgumentException](op())
      assert(chain(e).contains(s"$who: 1 batch row(s) carry a NULL key"),
        chain(e))
      assert(!chain(e).contains("not unique"), chain(e))
    }
    assert(MorLog.versions(spark, dir) == Seq(0),
      "a refused batch must commit no version")
    // the same batch without its NULL row lands
    MorLog.upsert(spark, dir, nullRow.filter(col("k").isNotNull), "k")
    assert(MorLog.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 31L)))
  }
}
