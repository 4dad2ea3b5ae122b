package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Per-file column statistics for [[VersionedTable]]'s data skipping —
  * the min/max-pruning half of the Delta/Iceberg design (both public)
  * on the repo's snapshot format.
  *
  * COLLECTION reads only parquet FOOTERS of the files a commit just wrote
  * (kilobytes per file, no data pages touched) on the driver — the same
  * place Delta appends its transaction-log entry; file count per commit is
  * O(write partitions), so this stays cheap at any table size. Values are
  * canonicalized to three comparable kinds — `long` (integers, dates as
  * epoch days, timestamps as UTC micros: exactly Catalyst's internal
  * representations, so literals compare without conversion), `double`,
  * and `string` (UTF8 binary) — and stored as strings in a tiny tsv
  * table under `<version>/_stats`.
  *
  * PRUNING is conservative by construction: any conjunct shape, column
  * type, or missing statistic the pruner does not understand keeps the
  * file. Skipping decisions use only conjuncts of the form
  * `col op literal` (=, <, <=, >, >=, IN, IS NULL, IS NOT NULL,
  * STARTSWITH), the forms parquet row-group stats can refute. */
object TableStats {

  private val StatsDirName = "_stats"

  // ---- collection (commit side) ----

  /** One column's merged stats over all row groups of one file. */
  private case class Acc(
      kind: String,
      var min: Any,
      var max: Any,
      var nulls: Long,
      var valid: Boolean)

  /** Commits writing at most this many files read footers on the driver —
    * a micro-batch commit must not pay a Spark-job launch for three
    * footers. Anything larger goes through the DISTRIBUTED footer read:
    * the driver never loops over O(files) I/O (at 100 TB ≈ 800k files a
    * serial footer pass is minutes of driver time per commit — the Delta
    * answer is stats collected in the write tasks / a distributed footer
    * read, and this is the latter). */
  private val DriverFooterBudget = 16

  /** One stat row: (fileKey, column, kind, min, max, nullCount, numRows);
    * min/max None when the file has no refutable stats for the column. */
  type Row = (String, String, String, Option[String], Option[String], Long, Long)

  /** Stat rows for explicit (status, key) pairs from their parquet
    * footers — the commit's staged files (keyed by dir-relative path) and
    * CONVERT's external-file import (keyed by the manifest refs the
    * reader will look files up by). Each footer opens from the listed
    * status, so no file is stat'ed again. Driver-side under
    * [[DriverFooterBudget]], one distributed footer job above it (one
    * task per slice of files, the Hadoop conf re-materialized
    * executor-side from its entries; only the O(files × columns) rows
    * return): the driver never loops over O(files) I/O. */
  private[sources] def collectRows(
      spark: SparkSession, f: FileSystem, files: Seq[(FileStatus, String)]): Seq[Row] =
    if (files.size <= DriverFooterBudget)
      files.flatMap { case (st, key) => fileRows(f.getConf, st, key) }
    else {
      val confEntries = f.getConf.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toVector
      val listed = files.map { case (st, key) => (st.getPath.toString, st.getLen, key) }
      val slices = math.min(listed.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(listed, slices)
        .mapPartitions { it =>
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          it.flatMap { case (p, len, key) =>
            fileRows(conf, new FileStatus(len, false, 0, 0, 0, new Path(p)), key)
          }
        }
        .collect().toSeq
    }

  /** Write `dir/_stats/stats.tsv` from rows — a driver-written text
    * file, NOT a Spark write: Spark readers ignore "_"-prefixed paths
    * (which is exactly why the dir is invisible to snapshot scans), and
    * the table is O(files × columns) rows, far below Spark-job size.
    * Values are URL-encoded so labels containing tabs/newlines
    * round-trip. The fileKey is whatever the matching reader will look
    * files up by (dir-relative path for plain snapshots, root-relative
    * for manifests); [[VersionedTable]]'s record writer is the caller. */
  def writeRows(f: FileSystem, dir: Path, rows: Seq[Row]): Unit = {
    val enc = (o: Option[String]) => o match {
      case Some(s) => "1:" + java.net.URLEncoder.encode(s, "UTF-8")
      case None => "0:"
    }
    val out = f.create(new Path(new Path(dir, StatsDirName), "stats.tsv"), true)
    try out.write(rows.map { case (file, col, kind, mn, mx, nulls, nr) =>
      s"$file\t$col\t$kind\t${enc(mn)}\t${enc(mx)}\t$nulls\t$nr"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** (file, column, kind, min, max, nullCount, numRows) rows for one file;
    * min/max null when the file has no refutable stats for the column.
    * Takes a bare Configuration so the distributed collection path can
    * call it executor-side. */
  private def fileRows(
      conf: org.apache.hadoop.conf.Configuration, st: FileStatus, key: String): Seq[Row] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val numRows = blocks.map(_.getRowCount).sum
      // ZERO-ROW file (e.g. a COW delete that emptied its touched slice):
      // no row groups means no per-chunk stats to fold, but the file must
      // still be COVERED — an uncovered file would void the snapshot's
      // whole stats table under the all-or-nothing rule. Emit rows=0
      // entries from the footer SCHEMA (typed where canonKind can, one
      // sentinel otherwise); the pruner reads rows=0 as "matches nothing".
      if (blocks.isEmpty) {
        val typed = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
          .filter(_.isPrimitive).map(_.asPrimitiveType)
          .flatMap { pt =>
            canonKind(pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation)
              .map(kind => (key, pt.getName, kind,
                None: Option[String], None: Option[String], 0L, 0L))
          }
        return if (typed.nonEmpty) typed
               else Seq((key, "__norows", "long", None, None, 0L, 0L))
      }
      val accs = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
      blocks.foreach { block =>
        block.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          if (!name.contains('.')) { // top-level atomic columns only
            canonKind(cc.getPrimitiveType.getPrimitiveTypeName,
                cc.getPrimitiveType.getLogicalTypeAnnotation).foreach { kind =>
              val acc = accs.getOrElseUpdate(name, Acc(kind, null, null, 0L, valid = true))
              val st = cc.getStatistics
              if (st == null) acc.valid = false
              else if (st.hasNonNullValue) {
                val mn = canonValue(st.genericGetMin, kind,
                  cc.getPrimitiveType.getLogicalTypeAnnotation)
                val mx = canonValue(st.genericGetMax, kind,
                  cc.getPrimitiveType.getLogicalTypeAnnotation)
                if (mn == null || mx == null) acc.valid = false
                else {
                  if (acc.min == null || cmp(kind, mn, acc.min) < 0) acc.min = mn
                  if (acc.max == null || cmp(kind, mx, acc.max) > 0) acc.max = mx
                }
                acc.nulls += math.max(st.getNumNulls, 0L)
              } else if (st.isNumNullsSet && st.getNumNulls == block.getRowCount)
                acc.nulls += st.getNumNulls // all-null chunk: no min/max needed
              else acc.valid = false
            }
          }
        }
      }
      accs.toSeq.map { case (name, a) =>
        if (a.valid)
          (key, name, a.kind,
            Option(a.min).map(_.toString), Option(a.max).map(_.toString),
            a.nulls, numRows)
        else (key, name, a.kind, None, None, -1L, numRows)
      }
    } finally reader.close()
  }

  /** Physical+logical parquet type → comparable kind; None = unsupported
    * (INT96 timestamps, decimals, non-UTF8 binary: never pruned on). */
  private def canonKind(
      prim: PrimitiveTypeName,
      logical: LogicalTypeAnnotation): Option[String] = (prim, logical) match {
    case (_, _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) => None
    case (PrimitiveTypeName.INT32, _) => Some("long") // ints; dates are epoch days
    case (PrimitiveTypeName.INT64, _) => Some("long") // longs; timestamps normalized to micros
    case (PrimitiveTypeName.FLOAT, _) | (PrimitiveTypeName.DOUBLE, _) => Some("double")
    case (PrimitiveTypeName.BOOLEAN, _) => Some("long")
    case (PrimitiveTypeName.BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
      Some("string")
    case _ => None
  }

  /** Footer statistic value → canonical comparable (Long / Double / String). */
  private def canonValue(v: Any, kind: String, logical: LogicalTypeAnnotation): Any =
    (v, kind) match {
      case (n: java.lang.Long, "long") => logical match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => n * 1000L
            case LogicalTypeAnnotation.TimeUnit.MICROS => n.longValue
            case LogicalTypeAnnotation.TimeUnit.NANOS => n / 1000L
          }
        case _ => n.longValue
      }
      case (n: java.lang.Integer, "long") => n.longValue
      case (b: java.lang.Boolean, "long") => if (b) 1L else 0L
      case (n: java.lang.Float, "double") => n.doubleValue
      case (n: java.lang.Double, "double") => n.doubleValue
      case (b: org.apache.parquet.io.api.Binary, "string") => b.toStringUsingUTF8
      case _ => null
    }

  // ---- bloom probes (read side) ----

  /** Equality probes a predicate implies: `column -> candidate values`
    * from `col = lit` and small `col IN (lits)` conjuncts. A file whose
    * blooms reject EVERY candidate value of any one conjunct cannot
    * satisfy the predicate. */
  def equalityProbes(conj: Expression): Option[(String, Seq[Any])] = conj match {
    case EqualTo(a, l: Literal) =>
      for (n <- attrName(a); (_, v) <- literalValue(l)) yield (n, Seq(v))
    case EqualTo(l: Literal, a) =>
      for (n <- attrName(a); (_, v) <- literalValue(l)) yield (n, Seq(v))
    case In(a, ls) if ls.nonEmpty && ls.size <= 16 && ls.forall(_.isInstanceOf[Literal]) =>
      for {
        n <- attrName(a)
        vs <- Some(ls.collect { case l: Literal => literalValue(l).map(_._2) })
        if vs.forall(_.isDefined)
      } yield (n, vs.flatten)
    case InSet(a, vs) if vs.nonEmpty && vs.size <= 16 =>
      // InSet holds Catalyst-internal values (UTF8String etc.) — canonicalize
      attrName(a).map(n => (n, vs.toSeq.map {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => other
      }))
    case _ => None
  }

  /** Could `file` contain `column = value` according to its parquet BLOOM
    * FILTERS? Conservative: true unless every row group carries a bloom
    * for the column and every one of them rejects the value. Bloom pages
    * are footer-adjacent kilobytes — this is a plan-time driver read of
    * the same class as the stats load, paid only for files min/max could
    * not already prune. */
  def bloomMayContain(
      conf: org.apache.hadoop.conf.Configuration,
      file: Path, column: String, value: Any): Boolean = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      reader.getRowGroups.asScala.exists { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == column) match {
          case None => true // column absent from the chunk list: cannot reason
          case Some(cc) =>
            val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
            if (bloom == null) true // no bloom written for this row group
            else {
              val pt = cc.getPrimitiveType.getPrimitiveTypeName
              val isDateChunk = cc.getPrimitiveType.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
              val MicrosPerDay = 86400000000L
              val hashed: Option[Long] = (value, pt) match {
                case (l: Long, PrimitiveTypeName.INT64) => Some(bloom.hash(l))
                // a DATE-annotated chunk probed with a MICROS literal: the
                // column was widened date→timestamp_ntz after this file
                // was written. A midnight literal converts to its day
                // (the only instant a date row can equal); any other
                // micros value stays conservative — hashing it raw would
                // compare across units and could WRONGLY skip the file.
                // Unit discrimination: every valid epoch DAY is < 20e6
                // (year 9999 ≈ 2.9e6), so a larger long under a DATE
                // chunk can only be micros.
                case (l: Long, PrimitiveTypeName.INT32)
                    if isDateChunk && math.abs(l) >= 20000000L =>
                  if (l % MicrosPerDay == 0) Some(bloom.hash((l / MicrosPerDay).toInt))
                  else None
                case (l: Long, PrimitiveTypeName.INT32) => Some(bloom.hash(l.toInt))
                case (d: Double, PrimitiveTypeName.DOUBLE) => Some(bloom.hash(d))
                case (d: Double, PrimitiveTypeName.FLOAT) => Some(bloom.hash(d.toFloat))
                case (s: String, PrimitiveTypeName.BINARY) =>
                  Some(bloom.hash(org.apache.parquet.io.api.Binary.fromString(s)))
                case _ => None // type mismatch: stay conservative
              }
              hashed.forall(bloom.findHash)
            }
        }
      }
    } finally reader.close()
  }

  // ---- load (read side) ----

  /** file name → column name → (kind, min, max, nullCount, numRows);
    * min/max None (with nullCount -1) = stats unusable for that column. */
  def load(spark: SparkSession, statsDir: Path)
      : Map[String, Map[String, (String, Option[String], Option[String], Long, Long)]] = {
    val f = statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dec = (s: String) =>
      if (s.startsWith("1:"))
        Some(java.net.URLDecoder.decode(s.drop(2), "UTF-8"))
      else None
    // one direct open: an absent table (collectStats = false, or a
    // failed stats write) reads empty
    VersionedTable.readTextIfExists(f, new Path(statsDir, "stats.tsv")).map { text =>
      text.split('\n').filter(_.nonEmpty).toSeq
        .map { line =>
          val a = line.split('\t')
          (a(0), a(1), a(2), dec(a(3)), dec(a(4)), a(5).toLong, a(6).toLong)
        }
        .groupBy(_._1)
        .map { case (fn, rows) =>
          fn -> rows.map(r => r._2 -> ((r._3, r._4, r._5, r._6, r._7))).toMap
        }
    }.getOrElse(Map.empty)
  }

  // ---- pruning (query side) ----

  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private[sources] def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  /** Catalyst literal → (kind, canonical value). Catalyst's internal date
    * (Int days) and timestamp (Long micros) representations already match
    * the canonical stats domain. */
  private[sources] def literalValue(l: Literal): Option[(String, Any)] = l.dataType match {
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      Option(l.value).map(v => ("long", v.asInstanceOf[Number].longValue))
    case TimestampType | TimestampNTZType =>
      Option(l.value).map(v => ("long", v.asInstanceOf[Number].longValue))
    case FloatType | DoubleType =>
      Option(l.value).map(v => ("double", v.asInstanceOf[Number].doubleValue))
    case StringType => Option(l.value).map(v => ("string", v.toString))
    case BooleanType =>
      Option(l.value).map(v => ("long", if (v.asInstanceOf[Boolean]) 1L else 0L))
    case _ => None
  }

  private[sources] def parse(kind: String, s: String): Any = kind match {
    case "long" => s.toLong
    case "double" => s.toDouble
    case _ => s
  }

  /** Compare canonical values, promoting long↔double mixes to double. */
  private[sources] def cmp(kind: String, a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case _ =>
      val d = (v: Any) => v match {
        case x: Long => x.toDouble
        case x: Double => x
        case x: Number => x.doubleValue
      }
      java.lang.Double.compare(d(a), d(b))
  }

  /** Could a row in a file with `stats` satisfy `conj`? Conservative:
    * true unless the stats REFUTE the conjunct. */
  def mayMatch(
      conj: Expression,
      stats: Map[String, (String, Option[String], Option[String], Long, Long)]): Boolean = {
    // a ZERO-ROW file (every covered column records rows == 0) can satisfy
    // no conjunct at all — prune it outright
    if (stats.nonEmpty && stats.values.forall(_._5 == 0L)) return false

    def range(name: String): Option[(String, Any, Any, Long, Long)] =
      stats.get(name).flatMap { case (kind, mnO, mxO, nulls, rows) =>
        for (mn <- mnO; mx <- mxO)
          yield (kind, parse(kind, mn), parse(kind, mx), nulls, rows)
      }

    def refutable(a: Expression, l: Literal)(
        refute: (String, Any, Any, Any) => Boolean): Boolean =
      (for {
        name <- attrName(a)
        (lk, lv) <- literalValue(l)
        (sk, mn, mx, nulls, rows) <- range(name)
        // comparable domains only (long vs double promotes; string must match)
        if lk == sk || (lk != "string" && sk != "string")
        // a file whose rows are ALL null for the column can't match col-op-lit
        res = if (nulls >= rows && rows > 0) true else refute(sk, mn, mx, lv)
      } yield res).getOrElse(false)

    conj match {
      case EqualTo(a, l: Literal) =>
        !refutable(a, l)((k, mn, mx, v) => cmp(k, v, mn) < 0 || cmp(k, v, mx) > 0)
      case EqualTo(l: Literal, a) =>
        !refutable(a, l)((k, mn, mx, v) => cmp(k, v, mn) < 0 || cmp(k, v, mx) > 0)
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        !refutable(a, l)((k, mn, mx, v) => cmp(k, v, mn) < 0 || cmp(k, v, mx) > 0)
      case LessThan(a, l: Literal) =>
        !refutable(a, l)((k, mn, _, v) => cmp(k, v, mn) <= 0)
      case LessThan(l: Literal, a) => // lit < col ≡ col > lit
        !refutable(a, l)((k, _, mx, v) => cmp(k, v, mx) >= 0)
      case LessThanOrEqual(a, l: Literal) =>
        !refutable(a, l)((k, mn, _, v) => cmp(k, v, mn) < 0)
      case LessThanOrEqual(l: Literal, a) =>
        !refutable(a, l)((k, _, mx, v) => cmp(k, v, mx) > 0)
      case GreaterThan(a, l: Literal) =>
        !refutable(a, l)((k, _, mx, v) => cmp(k, v, mx) >= 0)
      case GreaterThan(l: Literal, a) =>
        !refutable(a, l)((k, mn, _, v) => cmp(k, v, mn) <= 0)
      case GreaterThanOrEqual(a, l: Literal) =>
        !refutable(a, l)((k, _, mx, v) => cmp(k, v, mx) > 0)
      case GreaterThanOrEqual(l: Literal, a) =>
        !refutable(a, l)((k, mn, _, v) => cmp(k, v, mn) < 0)
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case l: Literal =>
          !refutable(a, l)((k, mn, mx, v) => cmp(k, v, mn) < 0 || cmp(k, v, mx) > 0)
        }
      case IsNull(a) =>
        attrName(a).flatMap(stats.get) match {
          case Some((_, _, _, nulls, _)) => nulls != 0L // -1 (unknown) keeps
          case None => true
        }
      case IsNotNull(a) =>
        attrName(a).flatMap(stats.get) match {
          case Some((_, _, _, nulls, rows)) => !(nulls >= rows && rows > 0)
          case None => true
        }
      case StartsWith(a, l: Literal) =>
        !refutable(a, l) { (k, mn, mx, v) =>
          if (k != "string") false
          else {
            val p = v.toString
            // rows with the prefix lie in [p, nextPrefix(p)); refute when
            // the file range misses that interval entirely
            val last = p.lastOption
            val next = last.filter(_ != Char.MaxValue)
              .map(c => p.dropRight(1) + (c + 1).toChar)
            cmp(k, mx, p) < 0 || next.exists(n => cmp(k, mn, n) >= 0)
          }
        }
      case _ => true // unknown shape: never prune on it
    }
  }
}
