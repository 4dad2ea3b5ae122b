package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up for the SCALING.md runs:
  * `runMain graft.tools.ScaleData <srcDir> <outDir> <factor>` replicates
  * the driver-generated sf0.1 tables `factor`-fold while PRESERVING the
  * statistical structure every scaling-set operator keys on:
  *
  *  - `documents`: ids shift by a replica stride; each replica's text goes
  *    through a replica-specific Caesar rotation of the letters — word
  *    lengths, whitespace, planted near-dup pairs and shingle df shape are
  *    identical WITHIN a replica, while replicas share (almost) no
  *    shingles, so the exact/near-dup pair count grows linearly with the
  *    factor instead of quadratically (naive copying would put every doc
  *    in a factor-sized exact-dup clique and measure the wrong thing);
  *  - `embeddings`: ids shift; each replica applies an orthogonal
  *    transform (coordinate rotation + deterministic sign flips), which
  *    preserves every within-replica pairwise cosine EXACTLY and leaves
  *    cross-replica similarity incidental;
  *  - `events`: event/user ids shift, timestamps/values/types untouched —
  *    `factor`× the users with the identical per-user history shape (what
  *    merge/SCD2/sessionize actually scale over).
  *
  * Everything is column arithmetic — no RNG, no driver loops — so the
  * output is bit-reproducible. */
object ScaleData {

  private val IdStride = 1000000000L // > any sf0.1 id; keeps % 100 == 0 query sets aligned
  private val EvStride = 1000000000000L

  private def caesar(k: Int): (String, String) = {
    val lo = ('a' to 'z').mkString
    val up = ('A' to 'Z').mkString
    val s = k % 26
    (lo + up,
      lo.drop(s) + lo.take(s) + up.drop(s) + up.take(s))
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    // events.ts is raw nanos-as-long in the driver's parquet
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      (0 until factor).map(k => f(src, k))
        .reduce(_ union _)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
    }

    replicate("documents") { (d, k) =>
      val (from, to) = caesar(k)
      d.select(
        (col("doc_id") + lit(k * IdStride)).as("doc_id"),
        translate(col("text"), from, to).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }

    replicate("embeddings") { (e, k) =>
      val dims = 64
      // orthogonal per-replica transform: a multiplicative permutation
      // (i -> i·5^k mod 64 — 5^k is odd, so a bijection on Z/64) composed
      // with hash-derived sign flips. permutation · diag(±1) preserves all
      // WITHIN-replica dot products exactly, while cross-replica cosines
      // decorrelate (a plain coordinate rotation left cluster directions
      // aligned — measured 2x the linear pair count at factor 2)
      val mult = Iterator.iterate(1L)(m => (m * 5) % dims).drop(k).next()
      val rotated = (0 until dims).map { i =>
        val srcIdx = ((i * mult) % dims).toInt
        val h = (srcIdx * 2654435761L + k.toLong * 40503L) >>> 16
        val sign = if (k > 0 && (h & 1L) == 1L) -1.0f else 1.0f
        (element_at(col("embedding"), srcIdx + 1) * lit(sign)).cast("float")
      }
      e.select(
        (col("vec_id") + lit(k * IdStride)).as("vec_id"),
        array(rotated: _*).as("embedding"),
        col("label"))
    }

    replicate("events") { (ev, k) =>
      ev.select(
        (col("event_id") + lit(k * EvStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * IdStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }

    println(s"[scale] wrote $outDir at factor $factor from $srcDir")
    spark.stop()
  }
}
