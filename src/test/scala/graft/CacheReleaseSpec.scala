package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.LogicalRDD

import graft.corpus.Synth
import graft.kg.{Pipeline, Store, Triples}

/** A build releases every frame it caches: block-manager storage after a
  * committed build (cold, fully resumed, or resumed at the annotate
  * stages) holds no RDD it did not hold before, and a materialized emit
  * leaves only its own snapshot. */
class CacheReleaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Ids of the RDDs with blocks in the block manager. */
  def stored(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("a committed build and its resumes leave storage as they found it") {
    val root = Files.createTempDirectory("graft-release").toString
    val input = "synth:12:4"
    val before = stored()
    val (cold, _) = Main.run(spark, input, root)
    assert(stored() -- before == Set.empty, "cold build retained caches")
    val (resumed, _) = Main.run(spark, input, root)
    assert(stored() -- before == Set.empty, "full resume retained caches")
    for (stage <- Seq("events", "relations", "triples"))
      Files.delete(Store.manifestPath(root, stage))
    val (reannotated, _) = Main.run(spark, input, root)
    assert(stored() -- before == Set.empty, "annotate resume retained caches")
    assert(cold > 0 && resumed == cold && reannotated == cold)
  }

  test("materialize leaves only the returned snapshot in storage") {
    val before = stored()
    val tri = Triples.materialize(spark,
      Pipeline.annotate(spark, Synth.corpus(spark, 12L, 4)), distinct = true)
    val snapshot = tri.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.id }
    assert(snapshot.size == 1)
    assert(stored() -- before == snapshot.toSet)
    assert(tri.count() > 0)
  }
}
