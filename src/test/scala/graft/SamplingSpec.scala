package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  test("uniform sample: deterministic for a fixed seed, fraction in bounds") {
    val a = Sampling.uniform.run(spark, sf).collect().map(_.getLong(0))
    val b = Sampling.uniform.run(spark, sf).collect().map(_.getLong(0))
    assert(a.sameElements(b), "same seed must give the same sample")
    val n = 10000.0
    val frac = a.length / n
    // binomial 3σ ≈ 0.009 at p=0.1, n=10000
    assert(frac > 0.07 && frac < 0.13, s"fraction $frac out of bounds")
  }

  test("native RNG sampling: seeded sample()/sampleBy() deterministic, fractions in bounds") {
    // the Spark-native Bernoulli path (engine-private RNG stream → not
    // oracle-expressible; the driver queries use the portable-hash
    // twins, this keeps the native API covered)
    val ev = graft.sources.Tables.events(spark, sf)
    val s1 = ev.sample(withReplacement = false, fraction = 0.1, seed = 42L)
      .select(col("event_id")).collect().map(_.getLong(0))
    val s2 = ev.sample(withReplacement = false, fraction = 0.1, seed = 42L)
      .select(col("event_id")).collect().map(_.getLong(0))
    assert(s1.sameElements(s2), "same seed must give the same native sample")
    assert(s1.length / 10000.0 > 0.07 && s1.length / 10000.0 < 0.13)

    val docs = graft.sources.Tables.documents(spark, sf)
    val fractions = Map("en" -> 0.25, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0)
    val by = docs.stat.sampleBy("lang", fractions, 42L)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by("de") === total("de"))
    val enFrac = by("en").toDouble / total("en")
    assert(enFrac > 0.1 && enFrac < 0.4, s"native en fraction $enFrac not ~0.25")
  }

  test("stratified sample: dominant stratum downsampled, others kept") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Sampling.stratified.run(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("de") === total("de"))
    assert(got("zh") === total("zh"))
    val enFrac = got("en").toDouble / total("en")
    assert(enFrac > 0.1 && enFrac < 0.4, s"en fraction $enFrac not ~0.25")
  }

  test("sample_doremi: weights normalize, and harder domains never get less weight") {
    val rows = SparkEntry.queries("sample_doremi")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))) // (source, deficit, weight)
    val wsum = rows.map(_._3).sum
    assert(math.abs(wsum - 1000000L) <= rows.length,
      s"weights must renormalize to ~1e6 ppm, got $wsum")
    // multiplicative-weights law: the exp(eta*excess) factor is
    // monotone in the deficit, and renormalization preserves order
    rows.sortBy(_._2).toSeq.sliding(2).foreach {
      case Seq((sa, da, wa), (sb, db, wb)) =>
        assert(wa <= wb + 1, // +1: integral-division grid
          s"$sa (deficit $da) got weight $wa > $sb (deficit $db) weight $wb")
      case _ => ()
    }
  }

  test("sample_doremi on an empty documents table: empty frame, op's schema") {
    val empty = java.nio.file.Files.createTempDirectory("graft-doremi-empty").toString
    graft.sources.Tables.documents(spark, sf).limit(0)
      .write.parquet(s"$empty/documents.parquet")
    val expected = SparkEntry.queries("sample_doremi")(spark, sf).schema
    val out = SparkEntry.queries("sample_doremi")(spark, empty)
    assert(out.schema === expected)
    assert(out.collect().isEmpty)
  }
}
