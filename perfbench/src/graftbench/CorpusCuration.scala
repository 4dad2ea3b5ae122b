package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.pipelines.CurateCorpus
import graft.sources.VersionedTable

/** Corpus curation: quality filter → exact dedup → n-gram near-dup pairs
  * → components (the curation DAG), the curated corpus committed as one
  * large versioned-table write and read back. Each pass curates the same
  * staged corpus. A block of the timed loop is [[PassesPerBlock]] passes
  * and then a semantic dedup over the embeddings of replica 0. */
object CorpusCuration {
  val PassesPerBlock = 2
  /** Times each pass reads its committed table (both reads each time), so
    * a block has eight reads for `read_p50_s`, not four. */
  val ReadRounds = 2
  /** The warm-up's slice of replica 0's vectors, and its extra commits. */
  val WarmVectors = 500L
  val WarmCommits = 4
  val Factor = 2
  val BaseDocs = 5000
  val BaseVectors = 2000
  /** Replica k's ids start at k times this. */
  val IdStride: Long = Gen.IdStride
  // the curation key's constants (quality floor, shingles, Jaccard, df
  // cap) and the semantic-dedup key's (cosine, cells, Lloyd rounds)
  val MinQuality = 0.55
  val ShingleN = 3
  val Jaccard = 0.5
  val MinDfCap = 5L
  val DfCapDivisor = 100L
  /** Above p5's 0.4. Two unrelated 64-d vectors (in one cell, where
    * cosines lean positive) pass 0.4, and even 0.5, often enough that
    * chance pairs join the planted duplicate clusters into paths of a
    * length that depends on the seed. Connected components then take 2 to
    * 4 label rounds, or at 0.4 on some seeds leave them for the star
    * rounds (about 80 against 160 Spark jobs): the seed, not the program,
    * decided the dedup's time. At 0.6 chance pairs are practically absent
    * and every seed takes the same two rounds; the planted duplicates
    * (cosine 0.8-0.9) are found either way. */
  val CosThr = 0.6
  val Cells = 16
  val KmeansIters = 2

  final case class Out(root: String, curated: DataFrame)

  def cycle(ctx: Ctx, docs: DataFrame, root: String): Option[Out] = {
    val rec = ctx.rec
    var out: Out = null
    rec.span("pass", "cycle") { _ =>
      var curated: DataFrame = null
      rec.op("curate", "curate") { s =>
        val r = CurateCorpus.run(docs, "doc_id", "text", MinQuality, ShingleN,
          Jaccard, MinDfCap, DfCapDivisor)
        r.stages.foreach(st => s.attrs("stage." + st.name + "_s") = st.seconds)
        curated = r.curated
      }
      if (curated != null) rec.op("commit", "write") { s =>
        s.attrs("version") = VersionedTable.commit(curated, root)
        out = Out(root, curated)
      }
      if (rec.traced && out != null) rec.spans.reverseIterator
        .find(_.kind == "write").foreach { s =>
          val f = Ctx.files(root)
          s.attrs("files_written") = f.size
          s.attrs("bytes_written") = f.values.sum
        }
      if (out != null) (1 to ReadRounds).foreach { _ =>
        rec.op("readback", "read") { s =>
          val r = ctx.select(s"SELECT count(*), sum(xxhash64(doc_id, text, " +
            s"quality_score) % 1000000007) FROM graft_table('$root')").head
          s.attrs("rows") = r.getLong(0)
          s.attrs("checksum") = r.getLong(1)
        }
        rec.op("by_length", "read") { s =>
          s.attrs("digest") = Ctx.digest(ctx.select(byLengthSql(s"graft_table('$root')")))
        }
      }
    }
    Option(out)
  }

  /** Semantic dedup of the embeddings (the p5 shape): trained cells,
    * within-cell cosine pairs, one keeper per duplicate cluster. */
  def semdedup(ctx: Ctx, emb: DataFrame): Unit =
    ctx.rec.span("semantic_dedup", "semantic") { _ =>
      ctx.rec.op("semdedup", "semdedup") { s =>
        val row = Similarity.semDedup(emb, "vec_id", "embedding", CosThr, Cells,
          KmeansIters).agg(count(lit(1)), sum(col("keep")), countDistinct(col("cluster_id")))
          .head()
        s.attrs("vectors") = row.getLong(0)
        s.attrs("kept") = row.getLong(1)
        s.attrs("clusters") = row.getLong(2)
      }
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var docs: DataFrame = null
    var emb: DataFrame = null
    var stagedBytes = 0L
    // set-up, several times: generate the base corpus, replicate it
    // k-fold and stage it as parquet; then a warm pass, warm commits and
    // a warm semantic dedup over slices of the base replica (JIT, codegen,
    // first touch), counted in setup_s
    (1 to EtlHourly.SetupRepeats).foreach { i =>
      val in = ctx.path(s"input$i")
      if (i > 1) Ctx.deleteTree(ctx.path(s"input${i - 1}"))
      ctx.timedSetup(s"stage-$i") {
        Gen.replicateDocs(Gen.documents(spark, ctx.seed, BaseDocs), Factor)
          .write.parquet(s"$in/documents")
        Gen.replicateEmbeddings(Gen.embeddings(spark, ctx.seed, BaseVectors), Factor)
          .write.parquet(s"$in/embeddings")
      }
      docs = spark.read.parquet(s"$in/documents")
      emb = spark.read.parquet(s"$in/embeddings")
      stagedBytes = Ctx.files(s"$in/documents").filter(!_._1.endsWith(".crc"))
        .values.sum
    }
    ctx.warmup {
      // a whole pass, as the block runs it (a pass over a slice left the
      // first timed pass still compiling); the commit road runs once a
      // pass: warm it with a few more commits of the warm pass's
      // survivors, so the timed commits do not meet it half-compiled
      cycle(ctx, docs, ctx.path("warm/pass"))
        .foreach(o => (1 to WarmCommits).foreach(i =>
          VersionedTable.commit(o.curated, ctx.path(s"warm/commit=$i"))))
      Ctx.deleteTree(ctx.path("warm"))
      semdedup(ctx, emb.where(col("vec_id") < WarmVectors))
    }
    val passes = mutable.ArrayBuffer.empty[Out]
    ctx.loop {
      (1 to PassesPerBlock).foreach { _ =>
        cycle(ctx, docs, ctx.path(s"curated/pass=${passes.size + 1}"))
          .foreach(passes += _)
      }
      semdedup(ctx, emb.where(col("vec_id") < IdStride))
    } { _ => () }
    ctx.heap()
    if (ctx.rec.traced) ctx.extra("pairs_out") = nearDupPairs(docs)
    ctx.extra("passes") = passes.size
    ctx.sizes("documents") = BaseDocs.toLong * Factor
    ctx.sizes("vectors") = BaseVectors.toLong * Factor
    ctx.sizes("vectors_semantic_dedup") = BaseVectors.toLong
    ctx.sizes("replication_factor") = Factor
    ctx.sizes("staged_document_bytes") = stagedBytes
    passes.lastOption match {
      case Some(last) =>
        // every committed pass's bytes over the bytes it staged
        val written = passes.map(o => Ctx.files(o.root).values.sum).sum
        ctx.extra("bytes_written") = written
        ctx.extra("write_amp") = written.toDouble / (stagedBytes * passes.size)
        ctx.extra("space_amp") = EtlHourly.spaceAmp(ctx, Seq(last.root))
        passes.init.foreach(o => Ctx.deleteTree(o.root))
        verify(ctx, last)
      case None => ctx.check("curated_corpus_committed", ok = false, "no pass committed")
    }
  }

  /** Near-dup pairs of one pass, for the traced run: the pipeline's own
    * first three stages, recomputed outside the timed passes. */
  def nearDupPairs(docs: DataFrame): Long = {
    val q = TextAnalysis.quality(docs, "doc_id", "text")
      .where(col("quality_score") >= MinQuality).select(col("doc_id"))
    val kept = docs.select(col("doc_id"), col("text")).join(q, Seq("doc_id"))
    val canon = Dedup.exactGroupsAgg(kept, "doc_id", "text")
      .where(col("doc_id") === col("canonical_id")).select(col("doc_id"))
    val exact = kept.join(canon, Seq("doc_id"), "left_semi").cache()
    val cap = math.max(MinDfCap, exact.count() / DfCapDivisor)
    try Dedup.ngramJaccardPairs(exact, "doc_id", "text", ShingleN, Jaccard, Some(cap)).count()
    finally exact.unpersist()
  }

  /** Row count and an order-free checksum of the curated columns. */
  def checksum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("text"),
      col("quality_score")) % lit(1000000007L)))

  private def byLengthSql(from: String): String =
    s"SELECT length(text) DIV 64 AS bucket, count(*) AS n, " +
      s"sum(length(text)) AS chars FROM $from GROUP BY 1"


  /** Survivors meet the quality floor, no two survivors share a text, and
    * the committed table reads back equal to the frame. */
  def verify(ctx: Ctx, o: Out): Unit = {
    val spark = ctx.spark
    val table = VersionedTable.read(spark, o.root)
    ctx.sizes("documents_kept") = table.count()
    ctx.checkSafely("survivors_meet_quality_floor") {
      val q = TextAnalysis.quality(table.select(col("doc_id"), col("text")), "doc_id", "text")
      val low = q.where(col("quality_score") < MinQuality).count()
      val stored = table.where(col("quality_score") < MinQuality).count()
      (low == 0 && stored == 0, s"below floor: recomputed=$low stored=$stored")
    }
    ctx.checkSafely("survivors_have_distinct_text") {
      val dup = table.groupBy(col("text")).count().where(col("count") > 1).count()
      (dup == 0, s"texts shared by several survivors: $dup")
    }
    ctx.checkSafely("table_reads_back_equal")(Ctx.sameRows(table, o.curated))
    ctx.checkSafely("reads_match_curated_frame") {
      val want = checksum(o.curated).head()
      o.curated.createOrReplaceTempView("bench_curated")
      val byLength = Ctx.digest(spark.sql(byLengthSql("bench_curated")).collect())
      val bad = ctx.rec.spans.filter(s => s.id >= ctx.firstTimedSpan && s.ok && (
        s.name == "readback" && !(s.attrs.get("rows").contains(want.getLong(0)) &&
          s.attrs.get("checksum").contains(want.getLong(1))) ||
        s.name == "by_length" && !s.attrs.get("digest").contains(byLength)))
      bad.foreach { s =>
        s.ok = false
        s.attrs("error") = "read-back differs from the curated frame"
        ctx.rec.failed += 1
      }
      (bad.isEmpty, s"mismatching reads: ${bad.size}")
    }
  }
}
