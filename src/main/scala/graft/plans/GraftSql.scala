package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, CommandBridge, GraftCommand, RoutedWrite}

import graft.sources.VersionedTable

/** The SQL DML face of the versioned table format — the piece that makes
  * a SQL-first user whole: reads already had table functions
  * (`graft_table`, time travel, ANN, fuzzy join); this adds the WRITE
  * verbs. Statements whose target is a versioned-table ROOT PATH (a
  * backtick-quoted path identifier, e.g. ``DELETE FROM `/lake/mart` ``)
  * route to the table format's transactional operations; everything else
  * is untouched Spark SQL.
  *
  *   - `DELETE FROM `<root>` [WHERE p]`        → [[VersionedTable.deleteWhere]]
  *   - `UPDATE `<root>` SET c = e [WHERE p]`   → [[VersionedTable.updateWhere]]
  *   - `MERGE [WITH SCHEMA EVOLUTION] INTO `<root>` [AS t] USING src [AS s]
  *     ON cond WHEN ...`
  *       → ANSI MERGE over the current snapshot (full matched /
  *         not-matched / not-matched-by-source action sets, `UPDATE SET *`
  *         and `INSERT *` included; WITH SCHEMA EVOLUTION adds
  *         source-only columns via a metadata-only evolveSchema first),
  *         committed as a new version with the same pin + in-claim
  *         re-validate + retry OCC as every writer
  *   - `INSERT INTO `<root>` [(cols)] <query|VALUES>` → O(batch) append
  *       commit (insert feed, OCC, drift refused); `INSERT OVERWRITE
  *       `<root>` <query>` → truncate-replace commit (delete pre-images +
  *       insert images in the feed), creating the table on an empty root
  *   - `CREATE TABLE '<root>' AS <query>` → create a versioned table from
  *       a query result (refuses an existing root)
  *   - `COPY INTO '<root>' FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
  *       [PATTERN = 'glob'] [FORMAT_OPTIONS ('k'='v',…)]` → IDEMPOTENT
  *       landing-zone ingest: a loaded-file ledger commits atomically
  *       with the rows, so re-runs load each source file exactly once
  *       ([[runCopyInto]])
  *   - `CREATE TABLE '<dest>' SHALLOW CLONE '<src>' [VERSION AS OF n]` →
  *       zero-copy clone: absolute-ref manifest, stats/schema/constraints/
  *       properties/deletion-vectors carried, O(files) metadata
  *       ([[VersionedTable.shallowClone]])
  *   - `OPTIMIZE '<root>' [SORT BY (c,..)] [ZORDER BY (c,..)] [BUCKET BY (c, n)] [WHERE p]`
  *       → compact / [[VersionedTable.optimize]] / z-order; WHERE scopes
  *         the rewrite to the files whose stats admit the predicate
  *         ([[VersionedTable.optimizeWhere]] — incremental maintenance)
  *   - `VACUUM '<root>' KEEP n [OLDER THAN h HOURS] [DRY RUN]`
  *   - `MAINTAIN '<root>' [DRY RUN]` → run (or, DRY RUN, just report)
  *       whatever [[VersionedTable.maintenanceReport]] recommends —
  *       measure-then-act layout upkeep (compact/optimize/ledger
  *       fold/vacuum), optimize-over-compact on clustered tables
  *   - `APPLY CHANGES INTO '<dst>' FROM '<src>' KEYS (k,..) CHECKPOINT
  *       '<dir>'` → CDC replication ([[graft.sources.ChangeReplica]]):
  *       consume the source's change feed since this checkpoint and
  *       MERGE the per-key net effect into the destination
  *   - `DESCRIBE HISTORY '<root>'` → the commit log as a result set
  *       (version, time, file/byte totals, fresh vs carried, feed/DV/txn
  *       flags, schema width — [[VersionedTable.history]])
  *   - `DESCRIBE DETAIL '<root>'` → one-row current-snapshot summary
  *       (version, files/bytes, schema width, renamed columns,
  *       constraints, properties, DV/ledger state —
  *       [[VersionedTable.detail]])
  *   - `RESTORE [TABLE] '<root>' TO VERSION AS OF n` (or `TO TIMESTAMP
  *       AS OF 'ts'`) → metadata-only rollback published as a new commit
  *       ([[VersionedTable.restore]]); SHALLOW CLONE takes the same
  *       `TIMESTAMP AS OF` form
  *   - `DESCRIBE [TABLE] '<root>'` → the current logical schema with each
  *       column's physical birth name (column-mapping introspection)
  *   - `ALTER TABLE '<root>' ADD CONSTRAINT n CHECK (e)` / `ALTER TABLE
  *       '<root>' DROP CONSTRAINT n` / `DESCRIBE CONSTRAINTS '<root>'` →
  *       named CHECK constraints: validated over the whole table on add,
  *       enforced against every staged write from then on
  *       ([[VersionedTable.addConstraint]])
  *   - `ALTER TABLE '<root>' RENAME COLUMN a TO b` / `DROP COLUMN c` →
  *       METADATA-ONLY rename/drop via column mapping (physical birth
  *       names frozen in the files, the logical map rewritten — zero data
  *       rewritten at any table size; [[VersionedTable.renameColumn]])
  *   - `ALTER TABLE '<root>' ADD COLUMN a INT` / `ADD COLUMNS (a INT,
  *       b DECIMAL(10,2))` → METADATA-ONLY schema evolution
  *       ([[VersionedTable.addColumns]]): old files backfill null at
  *       read time by name resolution, added columns forced nullable,
  *       birth-name collisions with retired physicals minted fresh
  *   - `ALTER TABLE '<root>' ALTER COLUMN c TYPE BIGINT` → METADATA-ONLY
  *       type widening ([[VersionedTable.widenColumn]]): int→bigint,
  *       int→double, float→double, decimal(p,s)→decimal(p+,s); old
  *       narrow-typed files serve through the widened reader schema
  *   - `ALTER TABLE '<root>' SET TBLPROPERTIES ('k'='v',…)` / `UNSET
  *       TBLPROPERTIES ('k',…)` / `SHOW TBLPROPERTIES '<root>'` → table
  *       properties as metadata-only commits; setting
  *       `graft.enableDeletionVectors=true` switches DELETE/UPDATE and
  *       COW-eligible MERGE to the merge-on-read deletion-vector forms
  *       (bytes written ∝ affected rows, not touched files)
  *
  * Statements are parsed by SPARK'S OWN PARSER (Delete/Update/Merge are
  * ANSI syntax the parser already produces logical nodes for); graft only
  * interprets those nodes against the table format — no bespoke SQL
  * dialect beyond the two Delta-shaped maintenance verbs above, which
  * Spark has no grammar for.
  *
  * Two faces, same implementations: [[execute]] works on ANY session;
  * sessions built with [[GraftExtensions]] (the [[graft.GraftSession]]
  * default) additionally get the injected parser, so plain `spark.sql`
  * runs these statements directly. */
object GraftSql {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Execute `sqlText`, routing versioned-table DML/maintenance;
    * delegates everything else to `spark.sql`. Pins the ACTIVE session
    * to the one passed in: route-time guards with no session parameter
    * (the named-DDL gate, the DROP membership check) read the active
    * session, which on a foreign thread could be a different session or
    * none — the caller's explicit choice must win. */
  def execute(spark: SparkSession, sqlText: String): DataFrame = {
    // pin for the duration only: restore the caller thread's previous
    // active session on exit, so embedding execute() inside another
    // session's work (a streaming foreachBatch on a cloned session)
    // doesn't permanently redirect that thread's thread-local
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try spark.sessionState.sqlParser match {
      case _: GraftSqlParser => spark.sql(sqlText) // parser face handles it
      case p =>
        val sql = rewriteTimeTravel(resolveNames(spark, sqlText))
        maintenancePlan(sql)
          .orElse(dmlPlan(sql, p))
          .map(cmd => CommandBridge.dataFrame(spark, cmd))
          .getOrElse(spark.sql(sql))
    } finally prev match {
      case Some(s) if !(s eq spark) => SparkSession.setActiveSession(s)
      case _ => // caller was already on `spark` (or had none): leave it
    }
  }

  // ---- named-catalog resolution --------------------------------------------

  private val IdPat = "([A-Za-z_][A-Za-z0-9_]*)"
  private val DmlNameRe =
    s"""(?i)\\b(DELETE\\s+FROM|MERGE\\s+INTO|INSERT\\s+INTO|INSERT\\s+OVERWRITE(?:\\s+TABLE)?|UPDATE)\\s+$IdPat\\b""".r
  private val DdlNameRe =
    s"""(?i)\\b(OPTIMIZE|VACUUM|MAINTAIN|RESTORE\\s+TABLE|RESTORE|ALTER\\s+TABLE|COPY\\s+INTO|SHOW\\s+TBLPROPERTIES|SHOW\\s+PARTITIONS|DESCRIBE\\s+HISTORY|DESCRIBE\\s+DETAIL|DESCRIBE\\s+CONSTRAINTS|DESCRIBE\\s+TABLE|DESCRIBE|CREATE\\s+TABLE)\\s+$IdPat\\b""".r
  private val TtNameRe =
    s"""(?i)\\b(FROM|JOIN)\\s+$IdPat(?=\\s+(?:VERSION|TIMESTAMP)\\s+AS\\s+OF\\b)""".r
  private val ReadNameRe =
    s"""(?i)\\b(FROM|JOIN)\\s+$IdPat\\b(?!\\s*\\()""".r
  // APPLY CHANGES resolves BEFORE the generic read rule: its `FROM <id>`
  // is a table TARGET (quoted form), not a query source — the lookahead
  // on KEYS keeps the generic graft_table rewrite away from it
  private val ApplyIntoNameRe =
    s"""(?i)\\b(APPLY\\s+CHANGES\\s+INTO)\\s+$IdPat\\b""".r
  private val ApplyFromNameRe =
    s"""(?i)\\b(FROM)\\s+$IdPat(?=\\s+KEYS\\s*\\()""".r

  /** CATALOG NAME RESOLUTION (textual, membership-gated): a bare
    * identifier in a table-reference position that is REGISTERED in
    * [[graft.sources.GraftCatalog]] rewrites to its root —
    * `OPTIMIZE events` becomes `OPTIMIZE '<root>'`, `DELETE FROM events`
    * becomes ``DELETE FROM `<root>` `` (the parser then produces the
    * path-target node [[rewriteDml]] already routes), and `FROM events`
    * becomes `FROM graft_table('<root>')` (or the quoted time-travel
    * form when an AS OF clause follows, which [[rewriteTimeTravel]]
    * then picks up). Unregistered identifiers are NEVER touched, so
    * ordinary Spark SQL — temp views, catalog tables, `extract(x FROM
    * y)` — passes through byte-identical; a registered graft name takes
    * precedence over a same-named temp view in these positions
    * (documented). Cost: one catalog dir listing per statement, only
    * when the statement contains a candidate keyword. */
  private[plans] def resolveNames(spark: SparkSession, sql: String): String = {
    val known = graft.sources.GraftCatalog.names(spark)
    if (known.isEmpty) return sql
    def rootOf(name: String): Option[String] =
      if (!known.contains(name)) None
      else graft.sources.GraftCatalog.resolve(spark, name)
    val q = java.util.regex.Matcher.quoteReplacement _
    def pass(text: String): String = {
      var s = text
      s = ApplyIntoNameRe.replaceAllIn(s, m => rootOf(m.group(2))
        .map(r => q(s"${m.group(1)} '$r'")).getOrElse(q(m.matched)))
      s = ApplyFromNameRe.replaceAllIn(s, m => rootOf(m.group(2))
        .map(r => q(s"${m.group(1)} '$r'")).getOrElse(q(m.matched)))
      s = DmlNameRe.replaceAllIn(s, m => rootOf(m.group(2))
        .map(r => q(s"${m.group(1)} `$r`")).getOrElse(q(m.matched)))
      s = DdlNameRe.replaceAllIn(s, m => rootOf(m.group(2))
        .map(r => q(s"${m.group(1)} '$r'")).getOrElse(q(m.matched)))
      s = TtNameRe.replaceAllIn(s, m => rootOf(m.group(2))
        .map(r => q(s"${m.group(1)} '$r'")).getOrElse(q(m.matched)))
      s = ReadNameRe.replaceAllIn(s, m => rootOf(m.group(2))
        .map(r => q(s"${m.group(1)} graft_table('$r')")).getOrElse(q(m.matched)))
      s
    }
    // rewrite OUTSIDE single-quoted literals only: a data value containing
    // "from <registered-name>" must pass through byte-identical ('' is the
    // SQL escaped quote; keyword+identifier pairs never straddle a quote)
    outsideQuotes(sql)(pass)
  }

  /** Apply `transform` to the regions of `sql` outside string literals,
    * preserving the literals verbatim. Mirrors Spark's lexer: BOTH quote
    * characters delimit strings (`'...'` and `"..."` — double quotes are
    * string literals in default mode), a doubled quote (`''` / `""`) is
    * an escaped quote, and a BACKSLASH escapes the next character inside
    * a literal (`\'` does not terminate; `\\` is a literal backslash) —
    * so a registered name after FROM inside a double-quoted value, or
    * behind a backslash-escaped quote, can never be rewritten into the
    * data. Unterminated quotes pass the tail through untransformed — the
    * parser will reject the statement with its own error.
    *
    * Conf-independence, stated deliberately: Spark's lexer rule for a
    * string literal consumes `\\.` and doubled quotes regardless of
    * session confs — `spark.sql.parser.escapedStringLiterals` changes
    * only how the VALUE is unescaped, never the literal's extent, so
    * this tracker's boundaries match the lexer under either setting.
    * `spark.sql.ansi.doubleQuotedIdentifiers` turns `"..."` into an
    * identifier, and skipping identifier regions is equally correct:
    * the name rewrites match BARE identifiers only, which a quoted
    * identifier never is. */
  private[plans] def outsideQuotes(sql: String)(
      transform: String => String): String = {
    val sb = new StringBuilder
    var i = 0
    var segStart = 0
    while (i < sql.length) {
      val c = sql(i)
      if (c == '\'' || c == '"') {
        sb.append(transform(sql.substring(segStart, i)))
        val lit = new StringBuilder
        lit.append(c)
        i += 1
        var done = false
        while (!done && i < sql.length) {
          if (sql(i) == '\\' && i + 1 < sql.length) {
            // backslash escape: copy both characters blind — the next
            // char is data whatever it is (quote, backslash, letter)
            lit.append(sql(i)).append(sql(i + 1)); i += 2
          } else if (sql(i) == c && i + 1 < sql.length && sql(i + 1) == c) {
            lit.append(c).append(c); i += 2 // doubled-quote escape
          } else if (sql(i) == c) {
            lit.append(c); i += 1; done = true
          } else { lit.append(sql(i)); i += 1 }
        }
        sb.append(lit)
        segStart = i
      } else i += 1
    }
    if (segStart == 0) transform(sql)
    else { sb.append(transform(sql.substring(segStart))); sb.toString }
  }

  /** [[resolveNames]] against the thread's active session — the parser
    * face has no session parameter; parsing always runs inside one. */
  private[plans] def resolveNamesActive(sql: String): String =
    SparkSession.getActiveSession.map(resolveNames(_, sql)).getOrElse(sql)

  // ---- SQL time travel in FROM position ------------------------------------

  private val TtVersionRe =
    """(?is)FROM\s+['`]([^'`]+)['`]\s+VERSION\s+AS\s+OF\s+(\d+)""".r
  private val TtTimestampRe =
    """(?is)FROM\s+['`]([^'`]+)['`]\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'""".r

  /** `SELECT ... FROM '<root>' VERSION AS OF n` / `TIMESTAMP AS OF 'ts'`
    * — the Delta read-side time-travel syntax — rewritten to the
    * existing `graft_table_at` / `graft_table_asof` table functions, so
    * the SQL read face is symmetric with RESTORE's and SHALLOW CLONE's
    * AS OF. Textual: a quoted path in FROM position is not valid Spark
    * SQL otherwise, so the rewrite can never capture a legal statement
    * (COPY INTO's `FROM '<dir>'` is followed by FILEFORMAT, never by an
    * AS OF clause). Aliases and the rest of the query pass through. */
  private[plans] def rewriteTimeTravel(sql: String): String = {
    val q = java.util.regex.Matcher.quoteReplacement _
    val a = TtVersionRe.replaceAllIn(sql, m =>
      q(s"FROM graft_table_at('${m.group(1)}', ${m.group(2)})"))
    TtTimestampRe.replaceAllIn(a, m =>
      q(s"FROM graft_table_asof('${m.group(1)}', '${m.group(2)}')"))
  }

  /** The table property (Delta's `delta.enableDeletionVectors`) that
    * switches SQL DML — DELETE, UPDATE, and COW-eligible MERGE — to the
    * merge-on-read deletion-vector forms. */
  private[plans] val DvProperty = "graft.enableDeletionVectors"

  // ---- statement routing ---------------------------------------------------

  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+'([^']+)'\s*(?:SORT\s+BY\s*\(([^)]*)\)|ZORDER\s+BY\s*\(([^)]*)\)|BUCKET\s+BY\s*\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*,\s*(\d+)\s*\))?(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+'([^']+)'\s+KEEP\s+(\d+)(?:\s+OLDER\s+THAN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+'([^']+)'\s*;?\s*""".r
  private val DetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+'([^']+)'\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?'([^']+)'\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?'([^']+)'\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val DescTableRe =
    """(?is)\s*DESCRIBE\s+(?:TABLE\s+)?'([^']+)'\s*;?\s*""".r
  private val AddConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r
  private val ShowConstraintsRe =
    """(?is)\s*DESCRIBE\s+CONSTRAINTS\s+'([^']+)'\s*;?\s*""".r
  private val RenameColRe =
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*""".r
  private val AddColsRe = // parenthesized list: ADD COLUMNS (a INT, b DECIMAL(10,2))
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+ADD\s+COLUMNS?\s*\((.+)\)\s*;?\s*""".r
  private val AddColRe = // bare single form: ADD COLUMN a INT
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+ADD\s+COLUMN\s+(\w+\s+[^(;][^;]*?)\s*;?\s*""".r
  private val AlterColTypeRe = // metadata-only widening: ALTER COLUMN c TYPE BIGINT
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(.+?)\s*;?\s*""".r
  private val DropColRe =
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*""".r
  private val SetPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*""".r
  private val UnsetPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*""".r
  private val ShowPropsRe =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+'([^']+)'\s*;?\s*""".r
  private val ShowPartitionsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+'([^']+)'\s*;?\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+'([^']+)'\s+SHALLOW\s+CLONE\s+'([^']+)'(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*""".r
  private val ConvertRe =
    """(?is)\s*CONVERT\s+TO\s+GRAFT\s+'([^']+)'\s*;?\s*""".r
  // the SQL face of the retraction-maintained aggregate view
  // ([[graft.sources.AggReplica]]): the definition is the one shape the
  // maintainer supports — group columns + count(*) AS n_rows +
  // sum(col) AS value_sum — parsed strictly so anything else fails at
  // CREATE, never as a silently-wrong refresh
  private val CreateMvRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s+AS\s+SELECT\s+(.+?)\s+FROM\s+'([^']+)'\s+GROUP\s+BY\s+(.+?)\s*;?\s*""".r
  // the join-backed (star) form: FROM 'fact' f JOIN 'dim1' a ON
  // f.fk = a.pk [AND …] [JOIN 'dim2' b ON …]… — group columns must be
  // alias-qualified (several tables are in scope; a bare name would
  // need schema resolution at parse time). The JOIN clauses are
  // captured as one blob and split by [[JoinClauseRe]].
  private val CreateJoinMvRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s+AS\s+SELECT\s+(.+?)\s+FROM\s+'([^']+)'\s+([A-Za-z_][A-Za-z0-9_]*)\s+((?:JOIN\s+'[^']+'\s+[A-Za-z_][A-Za-z0-9_]*\s+ON\s+.+?)+)\s+GROUP\s+BY\s+(.+?)\s*;?\s*""".r
  private val JoinClauseRe =
    """(?is)JOIN\s+'([^']+)'\s+([A-Za-z_][A-Za-z0-9_]*)\s+ON\s+(.+?)(?=\s+JOIN\s+'|\s*$)""".r
  private val RefreshMvRe =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s*;?\s*""".r
  // management verbs: DROP deletes the view (derived state — refuses a
  // base table), SHOW lists a dir's views with their refresh lag
  private val DropMvRe =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s*;?\s*""".r
  private val ShowMvRe =
    """(?is)\s*SHOW\s+MATERIALIZED\s+VIEWS\s+IN\s+'([^']+)'\s*;?\s*""".r
  private val DeepCloneRe =
    """(?is)\s*CREATE\s+TABLE\s+'([^']+)'\s+DEEP\s+CLONE\s+'([^']+)'(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*;?\s*""".r
  private val CopyIntoRe =
    """(?is)\s*COPY\s+INTO\s+'([^']+)'\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)(?:\s+PATTERN\s*=\s*'([^']+)')?(?:\s+FORMAT_OPTIONS\s*\((.*)\))?\s*;?\s*""".r
  // optional PARTITIONED BY / TBLPROPERTIES between the target and AS —
  // the birth-time knobs commit() takes (partition spec, generated-column
  // definitions, any table property). The TBLPROPERTIES clause is matched
  // lazily up to the first `) AS`; a quoted VALUE containing that exact
  // sequence mis-splits the clause — but fails LOUDLY (the pair parser
  // refuses the unterminated quote), never silently: quote such a value
  // differently or use ALTER TABLE SET TBLPROPERTIES after the CTAS
  private val CreateAsRe =
    """(?is)\s*CREATE\s+TABLE\s+'([^']+)'(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?(?:\s+TBLPROPERTIES\s*\((.+?)\))?\s+AS\s+(.+?)\s*;?\s*""".r
  // named-catalog verbs (GraftCatalog): a NEW name's CTAS lands under the
  // warehouse; LOCATION registers a name for an existing root; DROP
  // removes the pointer only; SHOW GRAFT TABLES lists the catalog
  //
  // GATED: bare-identifier CREATE TABLE is ALSO valid Spark-catalog
  // syntax, and an ungated intercept would hijack every session CTAS the
  // moment the extensions are injected. The graft forms activate only
  // when the session opted into the graft catalog — the warehouse conf
  // is set explicitly, or spark.graft.sql.namedDdl=true (which also
  // force-DISABLES with =false, warehouse notwithstanding). Ungated
  // sessions fall through to Spark's own CTAS untouched.
  private[plans] val NamedDdlKey = "spark.graft.sql.namedDdl"
  private def namedDdlActive: Boolean =
    SparkSession.getActiveSession.exists { s =>
      s.conf.getOption(NamedDdlKey).map(_.trim.equalsIgnoreCase("true"))
        .getOrElse(s.conf.getOption(
          graft.sources.GraftCatalog.WarehouseKey).isDefined)
    }
  private val CreateNamedAsRe =
    """(?is)\s*CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?(?:\s+TBLPROPERTIES\s*\((.+?)\))?\s+AS\s+(.+?)\s*;?\s*""".r
  private val CreateNamedLocRe =
    """(?is)\s*CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s+LOCATION\s+'([^']+)'\s*;?\s*""".r
  private val DropNamedRe =
    """(?is)\s*DROP\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r
  private val ShowGraftTablesRe =
    """(?is)\s*SHOW\s+GRAFT\s+TABLES\s*;?\s*""".r
  // measure-then-act maintenance: run whatever maintenanceReport
  // recommends (optimize-over-compact on clustered tables, ledger fold,
  // vacuum); DRY RUN reports the verbs without executing
  private val MaintainRe =
    """(?is)\s*MAINTAIN\s+'([^']+)'(\s+DRY\s+RUN)?\s*;?\s*""".r
  // CDC replication: consume the source's change feed since this
  // consumer's checkpoint and apply the net effect to the destination
  private val ApplyChangesRe =
    """(?is)\s*APPLY\s+CHANGES\s+INTO\s+'([^']+)'\s+FROM\s+'([^']+)'\s+KEYS\s*\(([^)]+)\)\s+CHECKPOINT\s+'([^']+)'\s*;?\s*""".r
  // a NEW destination name (not yet in the catalog — the usual replica
  // bootstrap) registers under the warehouse on first apply
  private val ApplyChangesNamedRe =
    """(?is)\s*APPLY\s+CHANGES\s+INTO\s+([A-Za-z_][A-Za-z0-9_]*)\s+FROM\s+'([^']+)'\s+KEYS\s*\(([^)]+)\)\s+CHECKPOINT\s+'([^']+)'\s*;?\s*""".r
  private val PropKeyRe = """'([^']*)'""".r

  /** `ADD COLUMN(S)` DDL with optional `DEFAULT <expr>` per column
    * (Delta's defaultColumns feature): `a INT DEFAULT 5, note STRING
    * DEFAULT 'none'`. The default is recorded as Spark's NATIVE
    * schema-metadata keys — `EXISTS_DEFAULT` (the constant-folded
    * literal, filled by the parquet reader for files that predate the
    * column, i.e. the backfill) and `CURRENT_DEFAULT` (filled by INSERT
    * for unnamed columns) — BOTH recorded as the constant-folded
    * literal, frozen at DDL time, so the backfill and every later
    * stored default agree by construction. The expression must fold to
    * a constant castable to the column type with no columns in scope —
    * validated HERE, once, with a loud error. Commas inside
    * DECIMAL(p,s)/ARRAY<...>/quotes are respected by a depth-aware
    * split, not a regex. */
  private[plans] def parseAddColumnsDdl(
      spark: SparkSession, ddl: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    // ONE quote-aware scan splits the list and locates each item's
    // top-level DEFAULT (and a trailing COMMENT after it): angle
    // brackets count as nesting only in the TYPE part — inside a
    // DEFAULT expression `<`/`>` are comparison operators, and a
    // DEFAULT (or COMMENT) inside a string literal is just text. SQL
    // `''` quote escapes are respected.
    final case class Item(colDdl: String, dflt: Option[String])
    val items = scala.collection.mutable.ArrayBuffer[Item]()
    val s = ddl
    var i = 0; var start = 0; var parens = 0; var angles = 0; var inQ = false
    var inBt = false     // inside a backtick-quoted identifier
    var defaultAt = -1   // index of the DEFAULT keyword in the current item
    var exprEnd = -1     // end of the default expression (a COMMENT follows)
    def kw(word: String): Boolean =
      !inQ && !inBt && parens == 0 && angles == 0 &&
        s.regionMatches(true, i, word, 0, word.length) &&
        (i == 0 || s(i - 1).isWhitespace) &&
        (i + word.length >= s.length || s(i + word.length).isWhitespace)
    def flush(end: Int): Unit = {
      if (defaultAt < 0) items += Item(s.substring(start, end).trim, None)
      else {
        val eEnd = if (exprEnd >= 0) exprEnd else end
        // a COMMENT clause after the default belongs to the column DDL
        val col = (s.substring(start, defaultAt) +
          (if (exprEnd >= 0) " " + s.substring(exprEnd, end) else "")).trim
        items += Item(col,
          Some(s.substring(defaultAt + "DEFAULT".length, eEnd).trim))
      }
      start = end + 1; defaultAt = -1; exprEnd = -1
    }
    while (i < s.length) {
      val c = s(i)
      if (inQ) {
        if (c == '\'') {
          if (i + 1 < s.length && s(i + 1) == '\'') i += 1 // '' escape
          else inQ = false
        }
      } else if (inBt) {
        if (c == '`') inBt = false // `` escape needs no special case:
                                   // it closes and reopens, same net state
      } else if (c == '\'') inQ = true
      else if (c == '`') inBt = true
      else if (c == '(') parens += 1
      else if (c == ')') parens -= 1
      else if (c == '<' && defaultAt < 0) angles += 1
      else if (c == '>' && defaultAt < 0) angles -= 1
      else if (c == ',' && parens == 0 && angles == 0) flush(i)
      else if (defaultAt < 0 && kw("DEFAULT")) defaultAt = i
      else if (defaultAt >= 0 && exprEnd < 0 && kw("COMMENT")) exprEnd = i
      i += 1
    }
    flush(s.length)
    items.foreach { it =>
      require(it.colDdl.nonEmpty || it.dflt.isEmpty,
        s"DEFAULT without a column definition in ADD COLUMNS: $ddl")
    }
    StructType(items.filter(_.colDdl.nonEmpty).toSeq.flatMap {
      case Item(colDdl, None) => StructType.fromDDL(colDdl).toSeq
      case Item(colDdl, Some(dflt)) =>
        val fields = StructType.fromDDL(colDdl)
        require(fields.size == 1,
          s"DEFAULT applies to exactly one column definition: $colDdl")
        val f = fields.head
        // fold the default ONCE, with NO columns in scope (a
        // column-referencing or otherwise non-constant default would
        // give the backfill and each INSERT different answers); the
        // FROZEN literal becomes BOTH metadata values, so a
        // `DEFAULT rand()`-style expression is pinned at DDL time —
        // backfill ≡ every later stored default, by construction
        val folded =
          try spark.sql(s"SELECT CAST(($dflt) AS ${f.dataType.sql})").head.get(0)
          catch { case e: Exception => throw new IllegalArgumentException(
            s"DEFAULT for column ${f.name} does not fold to a " +
              s"${f.dataType.simpleString} constant (column references " +
              s"are not allowed): $dflt", e) }
        val existsSql = org.apache.spark.sql.catalyst.expressions.Literal
          .create(folded, f.dataType).sql
        Seq(f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT", existsSql)
          .putString("EXISTS_DEFAULT", existsSql)
          .build()))
    })
  }

  /** CTAS clause helpers: null regex group = clause absent. */
  private def ctasPartitionSpec(partSpec: String): Seq[String] =
    Option(partSpec).map(_.split(',').toSeq.map(_.trim)
      .filter(_.nonEmpty)).getOrElse(Nil)
  private def ctasProperties(props: String): Option[Map[String, String]] =
    Option(props).map(parseOptionPairs)

  /** Quote-aware `'k' = 'v', …` pair list parser (SET TBLPROPERTIES,
    * FORMAT_OPTIONS). A regex scan cannot represent quotes inside values
    * and silently DROPS unparsed residue — an option value containing
    * `)` or `,` (a regex, a custom quote char) would truncate the list
    * without a word. Here `''` inside a quoted literal is an escaped
    * quote (the SQL convention) and any residue is an error, never a
    * silent drop. */
  private[plans] def parseOptionPairs(s: String): Map[String, String] = {
    var i = 0
    val n = s.length
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    def ws(): Unit = while (i < n && s(i).isWhitespace) i += 1
    def quoted(what: String): String = {
      require(i < n && s(i) == '\'',
        s"expected a quoted $what at position $i in: $s")
      i += 1
      val sb = new StringBuilder
      var done = false
      while (!done) {
        require(i < n, s"unterminated quote in: $s")
        if (s(i) == '\'') {
          if (i + 1 < n && s(i + 1) == '\'') { sb += '\''; i += 2 }
          else { i += 1; done = true }
        } else { sb += s(i); i += 1 }
      }
      sb.toString
    }
    ws()
    while (i < n) {
      val k = quoted("key")
      ws()
      require(i < n && s(i) == '=', s"expected = after key '$k' in: $s")
      i += 1; ws()
      out(k) = quoted("value")
      ws()
      if (i < n) {
        require(s(i) == ',',
          s"unparsed residue after a pair: '${s.substring(i)}' in: $s")
        i += 1; ws()
        require(i < n, s"trailing comma in: $s")
      }
    }
    out.toMap
  }

  private[plans] def maintenancePlan(sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case OptimizeRe(root, sortCols, zCols, bCol, bN, where) =>
        Some(GraftCommand("OPTIMIZE", root, s => {
          require(where == null || (zCols == null && bCol == null),
            "OPTIMIZE ... ZORDER BY / BUCKET BY does not take WHERE — " +
              "bucket/z-order boundaries are table-wide; use SORT BY for " +
              "scoped maintenance")
          def cols(cs: String) =
            cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val v =
            if (where != null)
              // predicate-scoped: only the admitted files are rewritten
              VersionedTable.optimizeWhere(s, root,
                org.apache.spark.sql.functions.expr(where),
                Option(sortCols).map(cols).getOrElse(Nil))
            else if (bCol != null)
              // the recorded hash-bucket layout ([[graft.sources.Bucketing]]):
              // subsequent merges join with zero target-side exchange —
              // one or more key columns (composite business keys hash
              // all of them, in order)
              graft.sources.Bucketing.bucketize(s, root, cols(bCol), bN.toInt)
            else if (zCols != null)
              VersionedTable.optimizeZOrder(s, root, cols(zCols))
            else if (sortCols != null)
              VersionedTable.optimize(s, root, cols(sortCols))
            else VersionedTable.compact(s, root)
          Seq(Row("OPTIMIZE", root, v))
        }))
      case VacuumRe(root, keep, hours, dry) =>
        Some(GraftCommand("VACUUM", root, s => {
          val dropped = VersionedTable.vacuum(s, root, keep.toInt,
            Option(hours).map(_.toLong * 3600 * 1000),
            dryRun = dry != null)
          Seq(Row("VACUUM", root, dropped.size.toLong))
        }))
      case HistoryRe(root) =>
        Some(org.apache.spark.sql.graft.GraftHistoryCommand(root,
          s => VersionedTable.history(s, root).collect().toSeq))
      case DetailRe(root) =>
        Some(org.apache.spark.sql.graft.GraftDetailCommand(root,
          s => Seq(VersionedTable.detail(s, root))))
      case DescTableRe(root) =>
        Some(org.apache.spark.sql.graft.GraftSchemaCommand(root, s => {
          val cur = VersionedTable.currentVersion(s, root).getOrElse(
            throw new java.io.IOException(s"no committed version under $root"))
          val schema = VersionedTable.tableSchema(s, root, cur)
          val mapping = VersionedTable.columnMapping(s, root, cur)
          schema.map(f => Row(f.name, f.dataType.simpleString, f.nullable,
            mapping.getOrElse(f.name, f.name))).toSeq
        }))
      case RestoreRe(root, v) =>
        Some(GraftCommand("RESTORE", root, s =>
          Seq(Row("RESTORE", root, VersionedTable.restore(s, root, v.toLong)))))
      case RestoreTsRe(root, ts) =>
        Some(GraftCommand("RESTORE", root, s =>
          Seq(Row("RESTORE", root, VersionedTable.restore(s, root,
            VersionedTable.versionAsOf(s, root,
              java.sql.Timestamp.valueOf(ts)))))))
      case AddConstraintRe(root, name, check) =>
        Some(GraftCommand("ADD CONSTRAINT", root, s =>
          Seq(Row("ADD CONSTRAINT", root,
            VersionedTable.addConstraint(s, root, name, check)))))
      case DropConstraintRe(root, name) =>
        Some(GraftCommand("DROP CONSTRAINT", root, s =>
          Seq(Row("DROP CONSTRAINT", root,
            VersionedTable.dropConstraint(s, root, name)))))
      case ShowConstraintsRe(root) =>
        Some(org.apache.spark.sql.graft.GraftConstraintsCommand(root, s => {
          val cur = VersionedTable.currentVersion(s, root).getOrElse(
            throw new java.io.IOException(s"no committed version under $root"))
          VersionedTable.constraintsOf(s, root, cur).toSeq.sortBy(_._1)
            .map { case (n, e) => Row(n, e) }
        }))
      case RenameColRe(root, from, to) =>
        Some(GraftCommand("RENAME COLUMN", root, s =>
          Seq(Row("RENAME COLUMN", root,
            VersionedTable.renameColumn(s, root, from, to)))))
      case DropColRe(root, name) =>
        Some(GraftCommand("DROP COLUMN", root, s =>
          Seq(Row("DROP COLUMN", root,
            VersionedTable.dropColumn(s, root, name)))))
      case AddColsRe(root, colsDdl) =>
        Some(GraftCommand("ADD COLUMNS", root, s =>
          Seq(Row("ADD COLUMNS", root,
            VersionedTable.addColumns(s, root,
              // Spark's own DDL struct parser underneath (nested types,
              // DECIMAL(p,s), ARRAY<...>), plus the DEFAULT clause
              parseAddColumnsDdl(s, colsDdl))))))
      case AddColRe(root, colDdl) =>
        Some(GraftCommand("ADD COLUMNS", root, s =>
          Seq(Row("ADD COLUMNS", root,
            VersionedTable.addColumns(s, root,
              parseAddColumnsDdl(s, colDdl))))))
      case AlterColTypeRe(root, name, typeDdl) =>
        Some(GraftCommand("ALTER COLUMN TYPE", root, s =>
          Seq(Row("ALTER COLUMN TYPE", root,
            VersionedTable.widenColumn(s, root, name,
              org.apache.spark.sql.types.DataType.fromDDL(typeDdl))))))
      case SetPropsRe(root, pairs) =>
        val kvs = parseOptionPairs(pairs)
        Some(GraftCommand("SET TBLPROPERTIES", root, s =>
          Seq(Row("SET TBLPROPERTIES", root,
            VersionedTable.setProperties(s, root, kvs)))))
      case UnsetPropsRe(root, keys) =>
        val ks = PropKeyRe.findAllMatchIn(keys).map(_.group(1)).toSeq
        Some(GraftCommand("UNSET TBLPROPERTIES", root, s =>
          Seq(Row("UNSET TBLPROPERTIES", root,
            VersionedTable.unsetProperties(s, root, ks)))))
      case CopyIntoRe(root, srcDir, fmt, pattern, opts) =>
        val fmtOpts = Option(opts).map(parseOptionPairs).getOrElse(Map.empty)
        Some(GraftCommand("COPY INTO", root, s =>
          Seq(Row("COPY INTO", root,
            runCopyInto(s, root, srcDir, fmt.toLowerCase,
              Option(pattern), fmtOpts)))))
      case CloneRe(dest, src, v, ts) =>
        Some(GraftCommand("SHALLOW CLONE", dest, s =>
          Seq(Row("SHALLOW CLONE", dest,
            VersionedTable.shallowClone(s, dest, src,
              Option(v).map(_.toLong).orElse(Option(ts).map(t =>
                VersionedTable.versionAsOf(s, src,
                  java.sql.Timestamp.valueOf(t)))))))))
      case ConvertRe(root) =>
        Some(GraftCommand("CONVERT TO GRAFT", root, s =>
          Seq(Row("CONVERT TO GRAFT", root,
            VersionedTable.convertToGraft(s, root)))))
      case CreateJoinMvRe(dst, selectList, fact, fa, joins, groupBy) =>
        Some(GraftCommand("CREATE MATERIALIZED VIEW", dst, s =>
          Seq(Row("CREATE MATERIALIZED VIEW", dst,
            runCreateJoinMv(s, dst, selectList, fact, fa, joins, groupBy)))))
      case CreateMvRe(dst, selectList, src, groupBy) =>
        Some(GraftCommand("CREATE MATERIALIZED VIEW", dst, s =>
          Seq(Row("CREATE MATERIALIZED VIEW", dst,
            runCreateMv(s, dst, selectList, src, groupBy)))))
      case RefreshMvRe(dst) =>
        Some(GraftCommand("REFRESH MATERIALIZED VIEW", dst, s =>
          Seq(Row("REFRESH MATERIALIZED VIEW", dst,
            runRefreshMv(s, dst)))))
      case DropMvRe(dst) =>
        Some(GraftCommand("DROP MATERIALIZED VIEW", dst, s =>
          Seq(Row("DROP MATERIALIZED VIEW", dst,
            graft.sources.AggReplica.dropView(s, dst)))))
      case ShowMvRe(dir) =>
        Some(org.apache.spark.sql.graft.GraftViewsCommand(dir, s =>
          graft.sources.AggReplica.listViews(s, dir).map {
            case (root, src, behind) => Row(root, src, behind) }))
      case DeepCloneRe(dest, src, v, ts) =>
        Some(GraftCommand("DEEP CLONE", dest, s =>
          Seq(Row("DEEP CLONE", dest,
            VersionedTable.deepClone(s, dest, src,
              Option(v).map(_.toLong).orElse(Option(ts).map(t =>
                VersionedTable.versionAsOf(s, src,
                  java.sql.Timestamp.valueOf(t)))))))))
      case CreateAsRe(root, partSpec, props, query) =>
        Some(GraftCommand("CREATE TABLE AS", root, s => {
          require(VersionedTable.currentVersion(s, root).isEmpty,
            s"versioned table already exists under $root — INSERT " +
              "OVERWRITE replaces it, INSERT INTO appends")
          // populate generated columns BEFORE the feed so CDC consumers
          // see what the table stores, not nulls
          val ctasProps = ctasProperties(props)
          val df = graft.sources.GeneratedCols.populate(s.sql(query),
            graft.sources.GeneratedCols.of(ctasProps.getOrElse(Map.empty)))
          Seq(Row("CREATE TABLE AS", root,
            VersionedTable.commit(df, root,
              recordInfo = VersionedTable.InsertFeedInfo, // virtual feed
              preCommit = stillEmptyGuard(s, root),
              partitionBy = ctasPartitionSpec(partSpec),
              recordProperties = ctasProps)))
        }))
      case ShowPartitionsRe(root) =>
        Some(org.apache.spark.sql.graft.GraftPartitionsCommand(root, s =>
          VersionedTable.partitions(s, root).map {
            case (p, files, bytes) => Row(p, files, bytes)
          }))
      case ShowPropsRe(root) =>
        Some(org.apache.spark.sql.graft.GraftPropertiesCommand(root, s => {
          val cur = VersionedTable.currentVersion(s, root).getOrElse(
            throw new java.io.IOException(s"no committed version under $root"))
          VersionedTable.propertiesOf(s, root, cur).toSeq.sorted
            .map { case (k, v) => Row(k, v) }
        }))
      // ---- named catalog ----------------------------------------------
      // a REGISTERED name never reaches these: resolveNames already
      // rewrote it to its quoted root (CreateAsRe above then refuses an
      // existing table exactly as for paths). These handle NEW names.
      case CreateNamedAsRe(name, partSpec, props, query) if namedDdlActive =>
        Some(GraftCommand("CREATE TABLE AS", name, s => {
          // a same-named temp view keeps winning FROM-position resolution
          // until registration lands in the catalog — surprising enough
          // to say out loud, not an error (the path face is unambiguous)
          if (s.catalog.tableExists(name))
            log.warn(s"CREATE TABLE $name: a temp view or catalog table " +
              "with this name exists; graft registration shadows it in " +
              "graft SQL verbs but Spark's own FROM resolution may differ")
          val root = graft.sources.GraftCatalog.defaultRoot(s, name)
          graft.sources.GraftCatalog.register(s, name, root)
          require(VersionedTable.currentVersion(s, root).isEmpty,
            s"versioned table already exists under $root")
          val ctasProps = ctasProperties(props)
          val df = graft.sources.GeneratedCols.populate(s.sql(query),
            graft.sources.GeneratedCols.of(ctasProps.getOrElse(Map.empty)))
          Seq(Row("CREATE TABLE AS", s"$name -> $root",
            VersionedTable.commit(df, root,
              recordInfo = VersionedTable.InsertFeedInfo, // virtual feed
              preCommit = stillEmptyGuard(s, root),
              partitionBy = ctasPartitionSpec(partSpec),
              recordProperties = ctasProps)))
        }))
      case CreateNamedLocRe(name, root) if namedDdlActive =>
        Some(GraftCommand("CREATE TABLE", name, s => {
          graft.sources.GraftCatalog.register(s, name, root)
          Seq(Row("CREATE TABLE", s"$name -> $root", 0L))
        }))
      case DropNamedRe(name)
          if SparkSession.getActiveSession
            .exists(s => graft.sources.GraftCatalog.resolve(s, name).isDefined) =>
        // membership-gated at plan time: an unregistered name falls
        // through to Spark's own DROP TABLE (temp views, catalog tables)
        Some(GraftCommand("DROP TABLE", name, s => {
          graft.sources.GraftCatalog.drop(s, name)
          // pointer-only drop (external-table semantics): data stays
          Seq(Row("DROP TABLE", name, 0L))
        }))
      case ShowGraftTablesRe() =>
        Some(org.apache.spark.sql.graft.GraftPropertiesCommand("catalog",
          s => graft.sources.GraftCatalog.tables(s)
            .map { case (n, r) => Row(n, r) }))
      case ApplyChangesRe(dst, src, keys, ck) =>
        Some(GraftCommand("APPLY CHANGES", dst, s => {
          val keyCols = keys.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val range = graft.sources.ChangeReplica
            .applyChanges(s, src, dst, keyCols, ck)
          Seq(Row("APPLY CHANGES", dst, range.map(_._2).getOrElse(-1L)))
        }))
      case ApplyChangesNamedRe(dstName, src, keys, ck) =>
        Some(GraftCommand("APPLY CHANGES", dstName, s => {
          val root = graft.sources.GraftCatalog.defaultRoot(s, dstName)
          graft.sources.GraftCatalog.register(s, dstName, root)
          val keyCols = keys.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val range = graft.sources.ChangeReplica
            .applyChanges(s, src, root, keyCols, ck)
          Seq(Row("APPLY CHANGES", s"$dstName -> $root",
            range.map(_._2).getOrElse(-1L)))
        }))
      case MaintainRe(root, dry) =>
        // (key, value) result shape: one row per verb — recommended (DRY
        // RUN) or executed — or a single ("healthy", root) row
        Some(org.apache.spark.sql.graft.GraftPropertiesCommand(root, s => {
          val verbs =
            if (dry != null)
              VersionedTable.maintenanceReport(s, root).recommendations
            else VersionedTable.applyMaintenance(s, root)
          if (verbs.isEmpty) Seq(Row("healthy", root))
          else verbs.map(v => Row(v, root))
        }))
      case _ => None
    }

  /** Parse with `parser` and, when the statement is DML against a path
    * target, return the substituted command plan. The keyword pre-filter
    * keeps the second parse off every ordinary query. */
  private def dmlPlan(sqlText: String, parser: ParserInterface): Option[LogicalPlan] = {
    val head = sqlText.trim.take(6).toUpperCase
    if (head != "DELETE" && head != "UPDATE" && head != "MERGE " && head != "INSERT")
      None
    else rewriteDml(parser.parsePlan(sqlText)) match {
      case g: GraftCommand => Some(g)
      case _ => None
    }
  }

  /** Substitute a parsed DML node whose target is a versioned-table path
    * with the graft command that runs it; any other plan passes through
    * unchanged (catalog-table DML stays Spark's problem). */
  private[plans] def rewriteDml(plan: LogicalPlan): LogicalPlan = plan match {
    case DeleteFromTable(t, cond) =>
      pathRoot(t).map { root =>
        val c = stripQualifier(cond, aliasOf(t))
        // the graft.enableDeletionVectors table property (the Delta knob)
        // switches SQL DML to the merge-on-read forms: bytes written scale
        // with affected rows, not touched files
        GraftCommand("DELETE", root, s =>
          Seq(Row("DELETE", root,
            VersionedTable.deleteWhere(s, root, ColumnBridge.column(c),
              mor = VersionedTable.boolProperty(s, root, DvProperty)))))
      }.getOrElse(plan)
    case UpdateTable(t, assignments, cond) =>
      pathRoot(t).map { root =>
        val a = aliasOf(t)
        val sets = assignments.map(as =>
          keyName(as.key) ->
            ColumnBridge.column(stripQualifier(as.value, a))).toMap
        val c = cond.map(stripQualifier(_, a))
          .map(ColumnBridge.column).getOrElse(lit(true))
        GraftCommand("UPDATE", root, s =>
          Seq(Row("UPDATE", root, VersionedTable.updateWhere(s, root, c, sets,
            mor = VersionedTable.boolProperty(s, root, DvProperty)))))
      }.getOrElse(plan)
    case m: MergeIntoTable =>
      pathRoot(m.targetTable).map { root =>
        GraftCommand("MERGE", root, s =>
          Seq(Row("MERGE", root, runMerge(s, root, m))))
      }.getOrElse(plan)
    case i: InsertIntoStatement =>
      pathRoot(i.table).map { root =>
        val op = if (i.overwrite) "INSERT OVERWRITE" else "INSERT"
        GraftCommand(op, root, s =>
          Seq(Row(op, root, runInsert(s, root, i))))
      }.getOrElse(plan)
    case other => other
  }

  private def pathRoot(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => pathRoot(child)
    case u: UnresolvedRelation =>
      val parts = u.multipartIdentifier
      if (parts.size == 1 && parts.head.contains("/")) Some(parts.head) else None
    case _ => None
  }

  private def aliasOf(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(id, _) => Some(id.name)
    case _ => None
  }

  /** `WHERE t.c = 1` with the target aliased `t`: the rewrite applies the
    * predicate to the bare table frame, so the alias qualifier must go. */
  private def stripQualifier(e: Expression, alias: Option[String]): Expression =
    alias match {
      case None => e
      case Some(a) => e.transform {
        case attr: UnresolvedAttribute
            if attr.nameParts.size > 1 &&
              attr.nameParts.head.equalsIgnoreCase(a) =>
          UnresolvedAttribute(attr.nameParts.tail)
      }
    }

  private def keyName(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => other.sql
  }

  // ---- INSERT --------------------------------------------------------------

  /** ANSI INSERT against the versioned table — the SQL LOAD verbs:
    *
    *   - `INSERT INTO `<root>` [(cols)] <query|VALUES ...> ` → O(batch)
    *     append commit ([[VersionedTable.commitAppend]]): no existing file
    *     read or copied, insert-image change feed, OCC vs concurrent
    *     writers, schema drift refused at commit time.
    *   - `INSERT OVERWRITE `<root>` <query>` → full truncate-replace
    *     commit; the feed carries delete pre-images of every old row and
    *     insert images of every new one (an overwrite IS a whole-table
    *     change — the feed is the same O(table) as the data write, and
    *     CDC consumers stay whole). On an empty root it CREATES the
    *     table, recording the query's schema.
    *
    *   Source→table alignment follows SQL rules: positional (arity-exact,
    *   cast to the table's types) by default; a column list or `BY NAME`
    *   maps by target-column name, null-filling unnamed nullable columns. */
  private def runInsert(
      spark: SparkSession, root: String, i: InsertIntoStatement): Long = {
    require(i.partitionSpec.isEmpty && !i.ifPartitionNotExists,
      "PARTITION clauses are not supported on versioned-table INSERT — " +
        "the format clusters with OPTIMIZE ... SORT BY / ZORDER BY instead")
    val src = CommandBridge.dataFrame(spark, i.query)
    VersionedTable.latest(spark, root) match {
      case None =>
        // first write CREATES the table (the CTAS road). Only OVERWRITE
        // may: a plain INSERT INTO against a missing root is far more
        // often a typo'd path than an intentional create.
        require(i.overwrite,
          s"no versioned table under $root — INSERT OVERWRITE (or " +
            "CREATE TABLE '<root>' AS ...) creates one")
        require(i.userSpecifiedCols.isEmpty && !i.byName,
          "a column list / BY NAME needs an existing table schema")
        VersionedTable.commit(src, root,
          recordInfo = VersionedTable.InsertFeedInfo, // virtual feed
          preCommit = stillEmptyGuard(spark, root))
      case Some(_) if i.overwrite =>
        // OCC: the delete-pre-image feed is computed FROM the pinned
        // base, so a concurrent commit landing between the pin and the
        // publish would vanish from the table with no delete image —
        // a CDC consumer would keep its rows forever. Re-validate
        // inside the claim and rebuild the feed on conflict, exactly
        // like every other snapshot-derived writer.
        VersionedTable.occRetry(spark, root) { base =>
          val target = VersionedTable.schemaOf(spark, base)
          val baseProps = VersionedTable.propertiesOf(spark, base)
          val aligned = alignToSchema(src, target, i.userSpecifiedCols,
            i.byName, root, autoPopulatedCols(baseProps))
          // POPULATE BEFORE THE FEED (the append road's rule): the
          // insert feed must carry what the table stores — generated
          // partition values, stored expression values, allocated
          // identity ids — never the nulls of the raw aligned frame.
          // commit()'s own populate then no-ops on the carrying frame;
          // the identity advance + in-claim basis check thread through
          // explicitly because this road built the feed.
          val alignedG = graft.sources.GeneratedCols.populate(aligned,
            graft.sources.GeneratedCols.of(baseProps), strict = false,
            bornZone = baseProps.get(graft.sources.GeneratedCols.ZoneProp),
            sessionZone = spark.sessionState.conf.sessionLocalTimeZone)
          val alignedE = graft.sources.GeneratedCols.populateExprs(alignedG,
            graft.sources.GeneratedCols.exprsOf(baseProps),
            target.map(f => f.name -> f.dataType).toMap)
          val (populated, idAdvProps, idCheck, idRelease) =
            VersionedTable.identityAllocate(spark, root, alignedE,
              baseProps, Some(base.version))
          // per attempt: a lost race re-allocates against fresh state,
          // the superseded pin's blocks must not outlive the attempt
          try {
            val feed = VersionedTable.readVersion(spark, base)
              .withColumn("_change_type", lit("delete"))
              .unionByName(populated.withColumn("_change_type", lit("insert")),
                allowMissingColumns = true)
            // the schema CONTRACT (column defaults et al.) survives this
            // data-only rewrite via commitWith's metadata-merge fallback;
            // nullability stays the written frame's (re-asserting the
            // recorded non-null flags over data storeCast lets through
            // null-as-null would record a lie)
            VersionedTable.commit(populated, root,
              extras = Map("changes" -> feed),
              recordProperties =
                if (idAdvProps.isEmpty) None else Some(baseProps ++ idAdvProps),
              preCommit = w => {
                VersionedTable.occValidate(spark, root, Some(base))(w)
                idCheck(w)
              })
          } finally idRelease()
        }
      case Some(s0) =>
        VersionedTable.commitAppend(
          alignToSchema(src, VersionedTable.schemaOf(spark, s0),
            i.userSpecifiedCols, i.byName, root,
            autoPopulatedCols(VersionedTable.propertiesOf(spark, s0))),
          root, changeFeed = true)
    }
  }

  /** Pre-publish guard for the CREATE roads (CTAS, first INSERT
    * OVERWRITE): re-assert inside the commit claim that the root is
    * STILL empty — two racing creators otherwise both report success
    * with the loser's table silently shadowed (Delta errors the loser of
    * a concurrent CREATE; so do we). */
  private def stillEmptyGuard(spark: SparkSession, root: String): Long => Unit =
    _ => VersionedTable.currentVersion(spark, root).foreach(v =>
      throw new IllegalStateException(
        s"concurrent CREATE: $root was created (v$v) while this " +
          "statement ran — the table already exists"))

  /** Align the INSERT source to the table schema. Named mode (column list
    * or BY NAME): each source column feeds its named target column, cast
    * to the target type; unnamed target columns null-fill when nullable
    * and refuse otherwise. Positional mode: arity must match exactly,
    * columns pair up in schema order. Either way the aligned frame's
    * columns equal the recorded schema, so the commit-time drift gate
    * passes exactly when SQL says the INSERT is legal. */
  private def alignToSchema(
      src: DataFrame, target: org.apache.spark.sql.types.StructType,
      userCols: Seq[String], byName: Boolean, root: String,
      autoCols: Set[String] = Set.empty): DataFrame = {
    def targetField(n: String) =
      target.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"INSERT column $n does not exist in $root " +
            s"(table columns: ${target.map(_.name).mkString(", ")})"))
    val srcType = src.schema.map(f => f.name -> f.dataType).toMap
    def store(srcName: String, f: org.apache.spark.sql.types.StructField) =
      storeCast(src(s"`$srcName`"), srcType(srcName), f, root)
    if (userCols.nonEmpty || byName) {
      val named: Seq[(String, Column)] =
        if (userCols.nonEmpty) {
          require(userCols.size == src.columns.length,
            s"INSERT column list names ${userCols.size} columns but the " +
              s"query produces ${src.columns.length}")
          userCols.zip(src.columns.toSeq).map { case (t, sc) =>
            targetField(t).name -> store(sc, targetField(t)) }
        } else src.columns.toSeq.map(c => targetField(c).name -> store(c, targetField(c)))
      val dups = named.map(_._1).groupBy(identity).filter(_._2.size > 1).keys
      require(dups.isEmpty,
        s"INSERT names target column(s) more than once: ${dups.mkString(", ")}")
      val have = named.toMap
      // unnamed GENERATED/IDENTITY columns stay ABSENT from the
      // projection: the commit road's population computes them (filling
      // null here would fail enforcement / lose the allocation); a NAMED
      // generated column passes through as an explicit value, enforced
      val fields = target.filter(f =>
        have.contains(f.name) || !autoCols.contains(f.name.toLowerCase))
      src.select(fields.map { f =>
        have.getOrElse(f.name, {
          // unnamed column: its CURRENT_DEFAULT (ADD COLUMNS ... DEFAULT,
          // recorded as Spark's native schema-metadata key) fills;
          // otherwise null for nullable targets, refusal for the rest
          if (f.metadata.contains("CURRENT_DEFAULT"))
            expr(f.metadata.getString("CURRENT_DEFAULT"))
              .cast(f.dataType).as(f.name)
          else {
            require(f.nullable,
              s"column ${f.name} is non-nullable and the INSERT gives it no value")
            lit(null).cast(f.dataType).as(f.name)
          }
        })
      }: _*)
    } else if (src.columns.length == target.size) {
      src.select(src.columns.toSeq.zip(target).map { case (sc, f) =>
        store(sc, f)
      }: _*)
    } else {
      // by-position against a generated/identity-carrying table: the
      // auto-populated columns are excluded from the expected list (the
      // Delta rule) — a raw frame inserts and the table computes the rest
      val expected = target.filterNot(f => autoCols.contains(f.name.toLowerCase))
      require(src.columns.length == expected.size,
        s"INSERT by position: query produces ${src.columns.length} " +
          s"columns, $root has ${target.size}" +
          (if (autoCols.nonEmpty)
            s" (${expected.size} without the auto-populated " +
              s"${autoCols.toSeq.sorted.mkString(", ")})"
          else "") +
          " — use a column list for partial inserts")
      src.select(src.columns.toSeq.zip(expected).map { case (sc, f) =>
        store(sc, f)
      }: _*)
    }
  }

  /** Columns the commit roads POPULATE when absent — partition
    * generators, stored expression generators, identity columns —
    * lowercased; [[alignToSchema]] leaves them out rather than
    * null-filling. `props`: the table properties recording them. */
  private def autoPopulatedCols(props: Map[String, String]): Set[String] =
    (graft.sources.GeneratedCols.of(props).keySet ++
      graft.sources.GeneratedCols.exprsOf(props).keySet ++
      graft.sources.GeneratedCols.identitiesOf(props).keySet)
      .map(_.toLowerCase)

  /** Store assignment with ANSI-like malformed-value semantics: a value
    * the target type cannot represent FAILS the insert at runtime instead
    * of silently becoming NULL (plain `Column.cast` nulls out e.g. 'abc'
    * → BIGINT, which then slips past even non-nullable targets). The
    * guard is inline in the projection — `when(introduced-null,
    * raise_error).otherwise(cast)` — so it codegens with the scan and
    * costs no extra pass. Same-type columns skip the wrapper entirely.
    * (Numeric overflow under non-ANSI cast truncates rather than nulls;
    * that narrower hazard is out of this guard's reach by construction.) */
  private def storeCast(
      c: Column, from: org.apache.spark.sql.types.DataType,
      f: org.apache.spark.sql.types.StructField, root: String): Column =
    if (from == f.dataType) c.as(f.name)
    else {
      val casted = c.cast(f.dataType)
      when(c.isNotNull && casted.isNull,
        raise_error(concat(
          lit(s"INSERT into $root: value '"),
          c.cast(org.apache.spark.sql.types.StringType),
          lit(s"' cannot be stored in column ${f.name} " +
            s"(${f.dataType.simpleString}) — ANSI store assignment"))))
        .otherwise(casted).as(f.name)
    }

  // ---- COPY INTO -----------------------------------------------------------

  /** `COPY INTO '<root>' FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
    * [PATTERN = 'glob'] [FORMAT_OPTIONS ('k'='v',…)]` — IDEMPOTENT file
    * ingestion (the Delta COPY INTO contract): the table carries a
    * LOADED-FILE LEDGER, each run loads only files not yet in it, and
    * the ledger and the rows commit atomically in one snapshot — so a
    * crashed or re-scheduled run re-loads NOTHING (exactly-once per
    * file), which is the property an hourly landing-zone ingest actually
    * needs (the alternative, remembering progress in the scheduler,
    * loses it on redeploys). Returns the number of files loaded (0 =
    * fully caught up, no commit published).
    *
    * The ledger is INCREMENTAL: each COPY commits only its own newly
    * loaded files (`_copyfiles` delta, O(new files) bytes), candidates
    * are probed with a distributed anti-join against the folded union
    * ([[VersionedTable.copyLedger]]), and every
    * `spark.graft.copy.foldEvery` (default 64) commits the union
    * collapses into one `_copyfull` barrier — a landing zone with
    * millions of accumulated files costs each COPY O(new), never
    * O(files-ever), in both write volume and driver memory.
    *
    * The load is an O(batch) append commit: source files are read with
    * the table's recorded schema (CSV/JSON get it as the parse schema;
    * parquet verifies against it by name), aligned BY NAME with casts,
    * and appended with an insert-image change feed. Requires an existing
    * table — the schema is the contract the files are checked against.
    * Optimistic-concurrent: two racing COPYs recompute the ledger on
    * conflict, so a file is never double-loaded.
    *
    * SCOPE: the default matches the source dir's DIRECT children
    * (`<dir>/*`); a partitioned landing layout needs an explicit
    * PATTERN with the directory levels spelled out (e.g.
    * `PATTERN = '*/*.parquet'` for `date=.../part-*.parquet`) —
    * globs may span levels, they are just never implicit. */
  /** CREATE MATERIALIZED VIEW 'dst' AS SELECT g1[, g2…], count(*) AS
    * n_rows, sum(col) AS value_sum [, count(col) AS n_vals, min(col) AS
    * value_min, max(col) AS value_max] FROM 'src' GROUP BY g1[, g2…] —
    * the two shapes [[graft.sources.AggReplica]] can maintain
    * incrementally (the three trailing aggregates — all over the SAME
    * column as the sum — opt in to extrema maintenance; `avg` derives
    * exactly at read as `value_sum / n_vals`). Anything else fails
    * HERE, at create, with the shape spelled out — never as a refresh
    * that silently maintains the wrong aggregate. */
  private def runCreateMv(
      spark: SparkSession, dst: String, selectList: String,
      src: String, groupBy: String): Long = {
    val Ident = "[A-Za-z_][A-Za-z0-9_]*"
    // GROUP BY ROLLUP/CUBE (k1, …, kn): ONE statement declares the
    // grouping-set cascade — the finest view plus coarser views
    // (ROLLUP: a prefix chain, each level folding its parent's feed;
    // CUBE: every proper subset hanging off the finest), refresh folding
    // everything in dependency order ([[AggReplica.createRollupView]] /
    // [[AggReplica.createCubeView]]). Two shapes: the single sum
    // (grouping sets of sums ARE sums of sums), and the extrema tail
    // (count n_vals, min value_min, max value_max over the sum's
    // column) — a coarser min/max is NOT retraction-algebraic over
    // subgroup extrema, so extrema chains maintain each level with the
    // flagged-group recompute against its PARENT level
    // ([[AggReplica.createExtremaChildView]]'s fold form).
    val GroupingSetRe = """(?is)\s*(ROLLUP|CUBE)\s*\(\s*(.+?)\s*\)\s*""".r
    groupBy match {
      case GroupingSetRe(kind, inner) =>
        val rKeys = inner.split(",").map(_.trim).toSeq
        require(rKeys.nonEmpty && rKeys.forall(_.matches(Ident)),
          s"$kind must list plain columns, got: $inner")
        val items = selectList.split(",").map(_.trim).toSeq
        val rShape = s"a $kind materialized view SELECT must be exactly: " +
          s"the $kind columns (in order), count(*) AS n_rows, " +
          "sum(<col>) AS value_sum [, count(<col>) AS n_vals, " +
          "min(<col>) AS value_min, max(<col>) AS value_max]"
        require(items.size == rKeys.size + 2 || items.size == rKeys.size + 5,
          s"$rShape — got: $selectList")
        require(items.take(rKeys.size).map(_.toLowerCase) ==
          rKeys.map(_.toLowerCase), s"$rShape — got: $selectList")
        val CountRe = """(?is)count\s*\(\s*\*\s*\)\s+AS\s+n_rows""".r
        require(CountRe.matches(items(rKeys.size)), s"$rShape — got: $selectList")
        val SumRe = s"""(?is)sum\\s*\\(\\s*($Ident)\\s*\\)\\s+AS\\s+value_sum""".r
        val valueCol = items(rKeys.size + 1) match {
          case SumRe(c) => c
          case other => throw new IllegalArgumentException(
            s"$rShape — got: $other")
        }
        val rExtrema = items.size == rKeys.size + 5
        if (rExtrema) {
          def tailCol(item: String, fn: String, alias: String): String = {
            val Re = s"""(?is)$fn\\s*\\(\\s*($Ident)\\s*\\)\\s+AS\\s+$alias""".r
            item match {
              case Re(c) => c
              case other => throw new IllegalArgumentException(
                s"$rShape — got: $other")
            }
          }
          val others = Seq(
            tailCol(items(rKeys.size + 2), "count", "n_vals"),
            tailCol(items(rKeys.size + 3), "min", "value_min"),
            tailCol(items(rKeys.size + 4), "max", "value_max"))
          require(others.forall(_.equalsIgnoreCase(valueCol)),
            "extrema aggregates must all be over the sum's column " +
              s"($valueCol) — got: ${others.mkString(", ")}")
        }
        return if (kind.equalsIgnoreCase("CUBE"))
          graft.sources.AggReplica.createCubeView(
            spark, dst, src, rKeys, valueCol, extrema = rExtrema)
        else graft.sources.AggReplica.createRollupView(
          spark, dst, src, rKeys, valueCol, extrema = rExtrema)
      case _ => ()
    }
    val keys = groupBy.split(",").map(_.trim).toSeq
    require(keys.nonEmpty && keys.forall(_.matches(Ident)),
      s"GROUP BY must be a list of plain columns, got: $groupBy")
    val items = selectList.split(",").map(_.trim).toSeq
    val shape = "materialized view SELECT must be exactly: the GROUP BY " +
      "columns (in order), count(*) AS n_rows, then EITHER one or more " +
      "sum(<col>) AS <alias> items OR sum(<col>) AS value_sum, " +
      "count(<col>) AS n_vals, min(<col>) AS value_min, " +
      "max(<col>) AS value_max (the extrema form)"
    require(items.size >= keys.size + 2, s"$shape — got: $selectList")
    require(items.take(keys.size).map(_.toLowerCase) ==
      keys.map(_.toLowerCase), s"$shape — got: $selectList")
    val CountRe = """(?is)count\s*\(\s*\*\s*\)\s+AS\s+n_rows""".r
    require(CountRe.matches(items(keys.size)), s"$shape — got: $selectList")
    def aggCol(item: String, fn: String, alias: String): String = {
      val Re = s"""(?is)$fn\\s*\\(\\s*($Ident)\\s*\\)\\s+AS\\s+$alias""".r
      item match {
        case Re(c) => c
        case other => throw new IllegalArgumentException(s"$shape — got: $other")
      }
    }
    val trailing = items.drop(keys.size + 1)
    val NValsRe = s"""(?is)count\\s*\\(\\s*$Ident\\s*\\)\\s+AS\\s+n_vals""".r
    // the extrema form is recognized by its fixed 4-item tail; anything
    // else is a list of sums (each with its own alias)
    val extrema = trailing.size == 4 && NValsRe.matches(trailing(1))
    if (extrema) {
      val valueCol = aggCol(trailing(0), "sum", "value_sum")
      val others = Seq(
        aggCol(trailing(1), "count", "n_vals"),
        aggCol(trailing(2), "min", "value_min"),
        aggCol(trailing(3), "max", "value_max"))
      require(others.forall(_.equalsIgnoreCase(valueCol)),
        "extrema aggregates must all be over the sum's column " +
          s"($valueCol) — got: ${others.mkString(", ")}")
      graft.sources.AggReplica.createView(spark, dst, src, keys, valueCol,
        extrema = true)
    } else {
      val SumRe = s"""(?is)sum\\s*\\(\\s*($Ident)\\s*\\)\\s+AS\\s+($Ident)""".r
      val measures = trailing.map {
        case SumRe(c, a) => (c, a)
        case other => throw new IllegalArgumentException(s"$shape — got: $other")
      }
      if (measures == Seq((measures.head._1, "value_sum")))
        graft.sources.AggReplica.createView(spark, dst, src, keys,
          measures.head._1)
      else
        graft.sources.AggReplica.createMultiView(spark, dst, src, keys,
          measures)
    }
  }

  /** CREATE MATERIALIZED VIEW 'dst' AS SELECT a.g1[, b.g2…], count(*)
    * AS n_rows, sum(f.col) AS value_sum FROM 'fact' f JOIN 'dim1' a ON
    * f.fk = a.pk [AND …] [JOIN 'dim2' b ON …]… GROUP BY a.g1[, b.g2…]
    * — the star shape [[graft.sources.AggReplica.createStarView]]
    * maintains with the telescoping delta rule. Strict like the
    * single-source form: group columns alias-qualified and echoed in
    * SELECT order, the sum over a FACT column (dim measures would need
    * the dim feed to re-derive fact multiplicities — declare the view
    * the other way around), each ON a conjunction of alias-qualified
    * equalities between the FACT and THAT dim (star, not snowflake — a
    * dim-dim equality fails here with the pre-join advice). The EXTREMA
    * tail (sum/count/min/max over one fact column, the single-source
    * face's shape) opts in to extrema maintenance: count/sum fold by
    * the telescoping rule, retracted extrema recompute from the star at
    * the refresh's pinned versions, restricted to the flagged groups. */
  private def runCreateJoinMv(
      spark: SparkSession, dst: String, selectList: String, fact: String,
      fa: String, joins: String, groupBy: String): Long = {
    val Ident = "[A-Za-z_][A-Za-z0-9_]*"
    val clauses = JoinClauseRe.findAllMatchIn(joins).toSeq.map { m =>
      (m.group(1), m.group(2), m.group(3)) }
    require(clauses.nonEmpty, s"could not parse JOIN clauses from: $joins")
    val aliases = fa +: clauses.map(_._2)
    require(aliases.map(_.toLowerCase).distinct.size == aliases.size,
      s"table aliases must be distinct, got: ${aliases.mkString(", ")}")
    val EqRe = s"""(?is)\\s*($Ident)\\.($Ident)\\s*=\\s*($Ident)\\.($Ident)\\s*""".r
    val dims = clauses.map { case (dimRoot, da, onCond) =>
      val pairs = onCond.split("(?i)\\s+AND\\s+").toSeq.map {
        case EqRe(a1, c1, a2, c2) =>
          if (a1.equalsIgnoreCase(fa) && a2.equalsIgnoreCase(da)) (c1, c2)
          else if (a1.equalsIgnoreCase(da) && a2.equalsIgnoreCase(fa)) (c2, c1)
          else throw new IllegalArgumentException(
            s"ON condition for $da must equate a $fa.column with a " +
              s"$da.column (star, not snowflake — pre-join chained dims " +
              s"into one table), got: $a1.$c1 = $a2.$c2")
        case other => throw new IllegalArgumentException(
          "ON must be a conjunction of alias-qualified equalities " +
            s"($fa.col = $da.col), got: $other")
      }
      (dimRoot, pairs)
    }
    val dimIdx = clauses.map(_._2.toLowerCase).zipWithIndex.toMap
    val QualRe = s"""(?is)\\s*($Ident)\\.($Ident)\\s*""".r
    val groups = groupBy.split(",").toSeq.map {
      case QualRe(a, c) =>
        if (a.equalsIgnoreCase(fa)) (0, c)
        else dimIdx.get(a.toLowerCase) match {
          case Some(i) => (i + 1, c)
          case None => throw new IllegalArgumentException(
            s"GROUP BY columns must be qualified with one of " +
              s"${aliases.mkString(", ")}, got: $a.$c")
        }
      case other => throw new IllegalArgumentException(
        s"GROUP BY columns must be alias-qualified in the join form, " +
          s"got: $other")
    }
    val items = selectList.split(",").map(_.trim).toSeq
    val shape = "join materialized view SELECT must be exactly: the " +
      "GROUP BY columns (in order), count(*) AS n_rows, then one or " +
      s"more sum($fa.<col>) AS <alias> items"
    require(items.size >= groups.size + 2, s"$shape — got: $selectList")
    items.take(groups.size).zip(groups).foreach { case (item, (s, c)) =>
      val want = aliases(s) + "." + c
      require(item.equalsIgnoreCase(want),
        s"$shape — expected $want, got: $item")
    }
    val CountRe = """(?is)count\s*\(\s*\*\s*\)\s+AS\s+n_rows""".r
    require(CountRe.matches(items(groups.size)), s"$shape — got: $selectList")
    val SumRe = s"""(?is)sum\\s*\\(\\s*($Ident)\\.($Ident)\\s*\\)\\s+AS\\s+($Ident)""".r
    val trailing = items.drop(groups.size + 1)
    // the EXTREMA form (same fixed 4-item tail as the single-source
    // face, every aggregate over the same fact column): maintained with
    // the telescoping rule for count/sum/n_vals and the star-recompute
    // road for retracted extrema — the reference's own enriched mart
    // computes a max over what is conceptually this shape
    val NValsRe =
      s"""(?is)count\\s*\\(\\s*$Ident\\.$Ident\\s*\\)\\s+AS\\s+n_vals""".r
    if (trailing.size == 4 && NValsRe.matches(trailing(1))) {
      def aggCol(item: String, fn: String, alias: String): String = {
        val Re =
          s"""(?is)$fn\\s*\\(\\s*($Ident)\\.($Ident)\\s*\\)\\s+AS\\s+$alias""".r
        item match {
          case Re(a, c) if a.equalsIgnoreCase(fa) => c
          case Re(a, c) => throw new IllegalArgumentException(
            s"every extrema aggregate must be over a $fa (fact) column, " +
              s"got: $a.$c")
          case other =>
            throw new IllegalArgumentException(s"$shape — got: $other")
        }
      }
      val valueCol = aggCol(trailing(0), "sum", "value_sum")
      val others = Seq(
        aggCol(trailing(1), "count", "n_vals"),
        aggCol(trailing(2), "min", "value_min"),
        aggCol(trailing(3), "max", "value_max"))
      require(others.forall(_.equalsIgnoreCase(valueCol)),
        "extrema aggregates must all be over the sum's column " +
          s"($valueCol) — got: ${others.mkString(", ")}")
      graft.sources.AggReplica.createStarView(spark, dst, fact, dims,
        groups, Seq((valueCol, "value_sum")), extrema = true)
    } else {
      val measures = trailing.map {
        case SumRe(a, c, al) if a.equalsIgnoreCase(fa) => (c, al)
        case SumRe(a, c, _) => throw new IllegalArgumentException(
          s"every sum must aggregate a $fa (fact) column, got: $a.$c")
        case other => throw new IllegalArgumentException(s"$shape — got: $other")
      }
      graft.sources.AggReplica.createStarView(spark, dst, fact, dims,
        groups, measures)
    }
  }

  private def runRefreshMv(spark: SparkSession, dst: String): Long =
    graft.sources.AggReplica.refreshView(spark, dst)

  private def runCopyInto(
      spark: SparkSession, root: String, srcDir: String, fmt: String,
      pattern: Option[String], fmtOpts: Map[String, String]): Long = {
    require(Set("parquet", "csv", "json")(fmt),
      s"FILEFORMAT must be PARQUET, CSV or JSON (got $fmt)")
    val hconf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcDir)
    val fs = src.getFileSystem(hconf)
    VersionedTable.occRetry(spark, root, absent = r =>
      throw new java.io.IOException(
        s"COPY INTO needs an existing versioned table under $r — " +
          "CREATE TABLE '<root>' AS ... first (its schema is the contract " +
          "the copied files are checked against)")) { base =>
      val glob = pattern.map(p => new org.apache.hadoop.fs.Path(src, p))
        .getOrElse(new org.apache.hadoop.fs.Path(src, "*"))
      // globStatus returns null (not empty) for a wildcard-free PATTERN
      // naming a missing path — that is "0 files to load", not an NPE
      val candidates = Option(fs.globStatus(glob))
        .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus]).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => fs.makeQualified(st.getPath).toString)
      // INCREMENTAL LEDGER: the table's loaded-file set is the fold of
      // per-commit deltas ([[VersionedTable.copyLedger]]); candidates are
      // probed with a DISTRIBUTED anti-join against it — the driver never
      // materializes the ledger (a daily landing zone accumulates
      // millions of files; only the O(new files) survivors come back).
      // A conflict recomputes the ledger against the new current, so a
      // racing COPY can't double-load a file.
      val ledger = VersionedTable.copyLedger(spark, root, base.version)
      import spark.implicits._
      val fresh: Seq[String] = ledger match {
        case None => candidates.sorted
        case Some(l) =>
          // no broadcast hint on the ledger side: AQE picks broadcast
          // while it is small and flips to shuffle when it grows
          candidates.toDF("file").join(l, Seq("file"), "left_anti")
            .collect().map(_.getString(0)).toSeq.sorted
      }
      if (fresh.isEmpty) 0L
      else {
        val schema = VersionedTable.schemaOf(spark, base)
        val reader = fmtOpts.foldLeft(spark.read) { case (r, (k, v)) =>
          r.option(k, v) }
        val raw = fmt match {
          // CSV/JSON parse under the table schema (names + types are the
          // contract); parquet is self-describing and aligns below
          case "parquet" => reader.parquet(fresh: _*)
          case "csv" => reader.schema(schema).csv(fresh: _*)
          case "json" => reader.schema(schema).json(fresh: _*)
        }
        val aligned = alignToSchema(raw, schema, Nil, byName = true, root)
        // per-commit ledger DELTA: O(new files) bytes, not O(files-ever).
        // Every spark.graft.copy.foldEvery COPYs the walk is amortized
        // back to O(1) by folding the union into a "copyfull" barrier
        // riding this same commit (no extra version).
        val foldEvery = spark.conf.getOption("spark.graft.copy.foldEvery")
          .map(_.toInt).getOrElse(64)
        val freshDf = fresh.toDF("file")
        val ledgerExtra: (String, DataFrame) =
          if (VersionedTable.copyLedgerDepth(spark, root, base.version) + 1 < foldEvery)
            "copyfiles" -> freshDf
          else "copyfull" -> ledger.map(_.unionByName(freshDf).distinct())
            .getOrElse(freshDf).localCheckpoint(eager = true)
        VersionedTable.commitCow(aligned, root,
          VersionedTable.dataFileRefs(spark, base),
          recordInfo = VersionedTable.InsertFeedInfo, // virtual feed
          extras = Map(ledgerExtra),
          preCommit = VersionedTable.occValidate(spark, root, Some(base)))
        fresh.size.toLong
      }
    }
  }

  // ---- MERGE ---------------------------------------------------------------

  /** ANSI MERGE against the versioned table: evaluated as one full-outer
    * join of the pinned target with the source, row fates decided by
    * the first applicable action per branch (SQL order-of-actions rule),
    * committed under the standard pin + in-claim re-validate + retry OCC.
    * The SQL-standard cardinality rule is enforced (a target row matching
    * multiple source rows refuses the merge rather than updating
    * nondeterministically — one extra aggregation pass, skipped when no
    * matched action exists).
    *
    * FILE-GRANULAR COPY-ON-WRITE (the Delta two-phase MERGE, the form
    * whose write cost holds at 100 TB): when no NOT MATCHED BY SOURCE
    * action exists, phase 1 finds the files containing at least one
    * ON-matching row (inner join of a file-ref-annotated, column-pruned
    * target scan with the source — any ON condition, no key/stats
    * requirement), and phase 2 runs the merge over only that slice,
    * carrying every other file into the new snapshot by manifest
    * reference. A matched row's file is touched by construction, so
    * untouched files hold only pass-through rows and the result — rows,
    * feed, cardinality check — equals the full-outer form's. An
    * insert-only merge touches nothing and degrades to an O(batch)
    * append; a write-order table may touch everything and degrades to
    * the full rewrite, correctly. NOT MATCHED BY SOURCE actions ride
    * the same road when every action carries a stats-prunable
    * condition (touched ∪= files admitting any NMBS condition); an
    * unconditioned NMBS action can hit rows in ANY file and takes the
    * full rewrite. */
  /** `(targetCol, sourceCol)` pairs of a conjunctive attribute-equality
    * ON clause, attributed by the two sides' aliases — empty when the
    * condition isn't equi-shaped or either side is unaliased (attribution
    * would be a guess; detection then scans without stats pre-pruning,
    * which is only a cost, never a correctness change). */
  private def equiKeys(m: MergeIntoTable): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def side(x: UnresolvedAttribute): Option[(String, String)] =
      if (x.nameParts.size == 2)
        Some((x.nameParts.head.toLowerCase, x.nameParts.last)) else None
    (for {
      ta <- aliasOf(m.targetTable).map(_.toLowerCase).toSeq
      sa <- aliasOf(m.sourceTable).map(_.toLowerCase).toSeq
      eq <- conjuncts(m.mergeCondition).collect {
        case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) => (a, b)
      }
      pair <- (side(eq._1), side(eq._2)) match {
        case (Some((q1, c1)), Some((q2, c2))) if q1 == ta && q2 == sa =>
          Some((c1, c2))
        case (Some((q1, c1)), Some((q2, c2))) if q1 == sa && q2 == ta =>
          Some((c2, c1))
        case _ => None
      }
    } yield pair)
  }

  /** Detection-scan CANDIDATES from the file key-range stats: the files
    * whose [min,max] on an equi target key admits at least one source key
    * (the [[graft.sources.Sinks.upsertByKeyVersionedCow]] pruning shape).
    * A multi-key equi ON INTERSECTS the per-key candidate sets — a file
    * must admit every conjunct to possibly hold a match. None = pruning
    * unavailable on every key (no equi key, no usable stats, or a stats
    * kind the comparison can't honor) — detection then scans everything.
    * All-null-key files carry no boundaries and are provably untouched by
    * an equi (NULL matches nothing), so they never become candidates. */
  private def candidateRefs(
      spark: SparkSession, base: graft.sources.Snapshot,
      m: MergeIntoTable, sDet: DataFrame): Option[Set[String]] = {
    // per-key usable stats, resolved driver-side first: (source col,
    // cast type, per-file bounds). A key with NO boundary-carrying file
    // proves the candidate set empty outright (all-null-key files carry
    // no boundaries and NULL matches nothing); a key without usable
    // stats contributes nothing (the others still intersect).
    case class KeyStats(sk: String, cast: String,
        bounds: Seq[(String, String, String)])
    val ks: Seq[KeyStats] = equiKeys(m).flatMap { case (tk, sk) =>
      VersionedTable.fileKeyRanges(spark, base, tk).flatMap { ranges =>
        val boundaries = ranges.collect { case (rel, Some((_, mn, mx))) =>
          (rel, mn.toString, mx.toString)
        }
        val kind = ranges.collectFirst { case (_, Some((k, _, _))) => k }
        val castT = kind.collect {
          case "long" => "bigint"
          case "double" => "double"
          case "string" => "string"
        }
        if (boundaries.isEmpty) Some(KeyStats(sk, "", Nil))
        else castT.map(t => KeyStats(sk, t, boundaries))
      }
    }
    if (ks.isEmpty) return None
    if (ks.exists(_.bounds.isEmpty)) return Some(Set.empty)
    // TWO-STAGE PRUNING (guide §1.2 — make the cheap check answer
    // first): stage 1 is a HULL check, ONE map-side min/max aggregation
    // over the source's equi keys (all keys in one job — no distinct, no
    // broadcast join), compared against the per-file bounds on the
    // driver. It proves the common fast paths outright: a disjoint
    // batch (an incremental load whose keys sit past every file's max)
    // yields Some(empty) — merge degrades to the O(batch) append — and
    // a clustered batch shrinks the set. The hull is a SUPERSET of the
    // exact per-key candidate set, so using it directly is always
    // correct (detection scans a few extra files, result unchanged).
    // Stage 2 — the exact distinct-keys × boundaries broadcast join, a
    // full extra execution — runs only when the hull still leaves
    // enough files for exactness to pay
    // ([[VersionedTable.MergeStatsPruneMinFiles]]; a 100 TB table's
    // thousands of files keep it).
    // string ordering must match the exact stage's SQL comparison
    // (UTF8String = unsigned UTF-8 bytes) — Java compareTo diverges on
    // non-ASCII, and a divergent hull could wrongly EXCLUDE a file
    def cmp(kind: String, a: String, b: String): Int = kind match {
      case "bigint" => java.lang.Long.compare(a.toLong, b.toLong)
      case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
      case _ => java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val hullAggs = ks.zipWithIndex.flatMap { case (k, i) =>
      Seq(min(col(k.sk).cast(k.cast)).as(s"__mn$i"),
        max(col(k.sk).cast(k.cast)).as(s"__mx$i"))
    }
    val hullRow = sDet.agg(hullAggs.head, hullAggs.tail: _*).head()
    val hulls: Seq[Option[Set[String]]] = ks.zipWithIndex.map { case (k, i) =>
      if (hullRow.isNullAt(2 * i)) Some(Set.empty[String]) // all-NULL key
      else {
        val smin = hullRow.get(2 * i).toString
        val smax = hullRow.get(2 * i + 1).toString
        Some(k.bounds.collect {
          case (rel, mn, mx)
              if cmp(k.cast, mx, smin) >= 0 && cmp(k.cast, mn, smax) <= 0 =>
            rel
        }.toSet)
      }
    }
    val hull = hulls.flatten.reduce(_ intersect _)
    if (hull.size < VersionedTable.MergeStatsPruneMinFiles) return Some(hull)
    val sets = ks.map { k =>
      val b = spark.createDataFrame(
        k.bounds.filter(x => hull(x._1))).toDF("__file", "__mn", "__mx")
      sDet.select(col(k.sk).cast(k.cast).as("__k")).na.drop().distinct()
        .join(broadcast(b),
          col("__k") >= col("__mn").cast(k.cast) &&
          col("__k") <= col("__mx").cast(k.cast))
        .select("__file").distinct()
        .collect().map(_.getString(0)).toSet
    }
    sets.reduceOption(_ intersect _)
  }

  /** Run a MERGE statement against a versioned-table target, with
    * caller-supplied extra side tables and an extra pre-publish check
    * riding the SAME atomic commit — the hook a transactional streaming
    * apply needs: its `(app_id, batch_id)` txn stamp must publish with
    * the merged data or not at all (the Delta txnAppId idempotent-sink
    * pattern; see [[graft.streaming.UpsertStream]]). Parses `sqlText`
    * with the session parser and refuses anything that is not a MERGE
    * on a path target. */
  private[graft] def mergeWithExtras(
      spark: SparkSession, sqlText: String,
      extraTables: Map[String, DataFrame],
      extraPreCommit: Long => Unit): Long = {
    // parse with a PLAIN parser, never the session's: under
    // GraftExtensions the injected parser wraps every path-target MERGE
    // into a GraftCommand (that is how spark.sql executes them), which
    // would hide the MergeIntoTable this internal caller needs — and the
    // wrapped command couldn't carry the txn extras. Latent until the
    // first multi-batch replica/view refresh ran under an
    // extensions-enabled session (single-batch streams bootstrap
    // without a merge, which is why the spec suites never hit it).
    val parsed = new org.apache.spark.sql.execution.SparkSqlParser()
      .parsePlan(resolveNames(spark, sqlText))
    parsed match {
      case m: MergeIntoTable =>
        val root = pathRoot(m.targetTable).getOrElse(
          throw new IllegalArgumentException(
            s"mergeWithExtras needs a path-target MERGE, got: $sqlText"))
        runMerge(spark, root, m, extraTables, extraPreCommit)
      case other => throw new IllegalArgumentException(
        s"mergeWithExtras needs a MERGE statement, got: ${other.nodeName}")
    }
  }

  /** The MERGE ON condition's equi conjuncts between an alias-qualified
    * TARGET column and a target-free expression — shared machinery for
    * the bucket-road eligibility probe and the aligned-write safety
    * check (one walk, one set of rules; a divergence between the two
    * would be a silent-corruption class). Each entry is (target column
    * lowercased, the source side when it is a BARE attribute —
    * None for any other target-free expression). Conservative on
    * purpose: only alias-qualified target attributes count (an
    * unqualified name could resolve to either side). */
  private def onEquiConjuncts(
      m: MergeIntoTable): Seq[(String, Option[Seq[String]])] = {
    val ta = aliasOf(m.targetTable).map(_.toLowerCase)
    if (ta.isEmpty) Nil
    else {
      import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
      def targetCol(e: Expression): Option[String] = e match {
        case a: UnresolvedAttribute if a.nameParts.size == 2 &&
            ta.contains(a.nameParts.head.toLowerCase) =>
          Some(a.nameParts(1).toLowerCase)
        case _ => None
      }
      def mentionsTarget(e: Expression): Boolean = e.exists {
        case a: UnresolvedAttribute =>
          a.nameParts.size >= 2 && ta.contains(a.nameParts.head.toLowerCase)
        case _ => false
      }
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      def sourceSide(e: Expression): Option[Option[Seq[String]]] =
        if (mentionsTarget(e)) None
        else Some(e match {
          case a: UnresolvedAttribute => Some(a.nameParts.map(_.toLowerCase))
          case _ => None
        })
      conjuncts(m.mergeCondition).flatMap {
        case EqualTo(l, r) =>
          targetCol(l).flatMap(t => sourceSide(r).map(sc => (t, sc)))
            .orElse(targetCol(r).flatMap(t => sourceSide(l).map(sc => (t, sc))))
        case _ => None
      }
    }
  }

  /** Target-side column names the ON condition EQUI-JOINS against a
    * target-free expression — bucket-road eligibility. A detection miss
    * only costs the claimed road (the join shuffles both sides as
    * before), never correctness — the claim is proven by the slice's
    * construction, not by this probe. */
  private def onTargetEquiKeys(m: MergeIntoTable): Set[String] =
    onEquiConjuncts(m).map(_._1).toSet

  /** The source-side ATTRIBUTES the ON condition equi-joins to target
    * column `key` (lowercased nameParts) — the only expressions a merge
    * action may safely assign to the bucket key under the aligned
    * write: a MATCHED row's assigned value then equals t.key (the join
    * proved it), and an INSERT row's value IS the value its partition
    * was hashed by. */
  private def onSourceKeyAttrs(
      m: MergeIntoTable, key: String): Set[Seq[String]] =
    onEquiConjuncts(m).collect {
      case (t, Some(src)) if t == key.toLowerCase => src
    }.toSet

  /** True when NO merge action can write a bucket-key value that
    * differs from the hash the aligned write placed the row under —
    * the [[org.apache.spark.sql.graft.PartitionBridge.alignedConcat]]
    * eligibility. Per action kind:
    *
    *  - MATCHED UPDATE: an unassigned key keeps t.key (in place —
    *    safe); an assigned key must be exactly an ON-equi source
    *    attribute (equal to t.key by the join). SET * assigns the
    *    source column NAMED like the key when the source carries it —
    *    safe only when that same column is the equi attribute.
    *  - NOT MATCHED INSERT: the key MUST be assigned, and only from an
    *    ON-equi source attribute — an unassigned key writes NULL,
    *    whose hash is some other bucket than the one the join placed
    *    the row in. INSERT * needs the source to carry the key AND it
    *    to be the equi attribute.
    *  - NOT MATCHED BY SOURCE UPDATE: source columns are NULL on these
    *    rows, so NO assignment to the key is safe (not even the equi
    *    attribute).
    *
    * Anything else keeps the repartition road, which re-hashes the
    * ACTUAL written values — a stamped commit is pure either way.
    * (A bucket key that is itself generated/identity never reaches
    * this check: the caller declines the aligned road outright —
    * regeneration can move the key without any assignment naming it.)
    *
    * Two alignment subtleties this probe must get right (both decline
    * to the repartition road, never mis-stamp):
    *
    *  - the ON condition must join the key through exactly ONE distinct
    *    source attribute. With two (`ON t.k = s.a AND t.k = s.b`) the
    *    attribute the planner co-partitions the source by is ITS
    *    choice, and a NOT-MATCHED row proves nothing about the other
    *    one (the match failed — nothing forces s.a = s.b there), so an
    *    INSERT assigning the non-partitioning attribute would land rows
    *    in the wrong bucket of a commit still stamped pure.
    *  - star expansion (SET * / INSERT *) assigns the source's
    *    TOP-LEVEL column named like the key; that is only aligned when
    *    the equi attribute IS that top-level column. An equi through a
    *    NESTED field (`ON t.k = s.nested.k`) co-partitions by the
    *    nested value while star assigns the unrelated top-level `k`. */
  private def bucketKeyAssignmentsSafe(
      m: MergeIntoTable, key: String, sourceCols: Seq[String]): Boolean = {
    val safe = onSourceKeyAttrs(m, key)
    if (safe.size != 1) return false
    val equi = safe.head
    val sourceHasKey = sourceCols.exists(_.equalsIgnoreCase(key))
    // top-level: a bare name, or alias-qualified where the qualifier is
    // NOT itself a source column (a 2-part path whose head names a
    // source column is a struct-field access, not an alias)
    val equiIsTopLevelKey = equi.last == key.toLowerCase && (equi.size match {
      case 1 => true
      case 2 => !sourceCols.exists(_.equalsIgnoreCase(equi.head))
      case _ => false
    })
    val starEquiKey = sourceHasKey && equiIsTopLevelKey
    def assignTo(as: Seq[Assignment]): Option[Assignment] =
      as.find(a => keyName(a.key).equalsIgnoreCase(key))
    def safeValue(a: Assignment): Boolean = a.value match {
      case u: UnresolvedAttribute => safe(u.nameParts.map(_.toLowerCase))
      case _ => false
    }
    m.matchedActions.forall {
      case u: UpdateAction => assignTo(u.assignments).forall(safeValue)
      case _: UpdateStarAction => !sourceHasKey || starEquiKey
      case _ => true // DELETE
    } &&
    m.notMatchedActions.forall {
      case i: InsertAction => assignTo(i.assignments).exists(safeValue)
      case _: InsertStarAction => starEquiKey
      case _ => true
    } &&
    m.notMatchedBySourceActions.forall {
      case u: UpdateAction => assignTo(u.assignments).isEmpty
      case _ => true // DELETE
    }
  }

  private def runMerge(
      spark: SparkSession, root: String, m: MergeIntoTable,
      extraTables: Map[String, DataFrame] = Map.empty,
      extraPreCommit: Long => Unit = _ => ()): Long = {
    // MERGE WITH SCHEMA EVOLUTION (the Delta autoMerge motion): source
    // columns absent from the target are ADDED first — a metadata-only
    // evolveSchema commit (additive, nullable; existing rows backfill
    // null at read time) — and the merge then runs against the widened
    // schema, so SET * / INSERT * and explicit assignments can reference
    // them. Without the keyword a drifted source keeps failing loudly at
    // resolution/commit, never silently dropping columns.
    if (m.withSchemaEvolution) {
      val sSchema = CommandBridge.dataFrame(spark, m.sourceTable).schema
      val tSchema0 = VersionedTable.read(spark, root).schema
      val have = tSchema0.fieldNames.map(_.toLowerCase).toSet
      val added = sSchema.fields.toSeq
        .filterNot(f => have(f.name.toLowerCase))
        .map(_.copy(nullable = true))
      if (added.nonEmpty)
        VersionedTable.evolveSchema(spark, root,
          org.apache.spark.sql.types.StructType(tSchema0.fields.toSeq ++ added))
    }
    // `snap`: the target snapshot this attempt derives from, resolved once
    VersionedTable.occRetry(spark, root) { snap =>
      val base = snap.version
      val readDf = VersionedTable.readVersion(spark, snap)
      val tSchema = readDf.schema
      // bucket-road eligibility (graft.sources.Bucketing), decided once
      // per attempt and reused by the touched-file DETECTION scan below
      // (phase 1 — the claimed slice makes the detection join shuffle
      // only the source) and the merge slice/commit (phase 2)
      val bucketEligible: Option[(Map[String, Int], Seq[String], Int)] =
        graft.sources.Bucketing
          .specOf(VersionedTable.propertiesOf(spark, snap))
          .flatMap { case (bkeys, n) =>
            // EVERY layout key must be equi-joined by the ON condition
            // (a composite layout hashed (a, b) co-locates nothing for
            // a join on `a` alone)
            if (!bkeys.forall(k =>
                onTargetEquiKeys(m).contains(k.toLowerCase))) None
            else graft.sources.Bucketing
              .pureBucketsBounded(spark, snap, bkeys, n)
              .map(fb => (fb, bkeys, n))
          }
      // phase 1 — touched-file detection (COW-eligible merges only):
      // stats pre-pruning first (equi ON keys vs per-file min/max — the
      // candidate set), then the exact detection join over candidates only.
      //
      // NOT MATCHED BY SOURCE joins the COW road through FILE STATS (the
      // Delta merge's NMBS pruning): an NMBS action can hit rows in ANY
      // file, but only rows its CONDITION admits — so when every NMBS
      // action carries a condition over stats-covered target columns,
      // touched = (files with an ON-matching row, from the detection
      // join) ∪ (files whose stats admit at least one NMBS condition),
      // and everything else rides by manifest reference: a kept file
      // provably holds no matched row (its rows' matched fate never
      // fires, and source rows matching only kept files can't exist, so
      // the insert branch stays exact) and no NMBS-admissible row (its
      // rows' NMBS fate is provably keep). The common sweep-delete
      // (`WHEN NOT MATCHED BY SOURCE AND t.ds < X THEN DELETE`) then
      // rewrites the stale slice, not 100 TB. An UNCONDITIONED action
      // (or a condition that doesn't resolve against the target alone)
      // keeps the full-rewrite road, correctly.
      val nmbsTouched: Option[Set[String]] =
        if (m.notMatchedBySourceActions.isEmpty) Some(Set.empty)
        else if (m.notMatchedBySourceActions.exists(_.condition.isEmpty)) None
        else scala.util.Try {
          // strip the target alias so the per-action condition resolves
          // against the planning relation inside prunedFiles (NMBS
          // conditions reference the target only, per the SQL rule the
          // analyzer enforces later); evaluated PER ACTION because the
          // stats pruner decides conjuncts — an OR across actions would
          // be one undecidable conjunct and prune nothing
          val ta = aliasOf(m.targetTable).map(_.toLowerCase)
          def deQualified(e: Expression): Expression = e.transform {
            case a: UnresolvedAttribute if a.nameParts.size == 2 &&
                ta.contains(a.nameParts.head.toLowerCase) =>
              UnresolvedAttribute(a.nameParts.tail)
          }
          m.notMatchedBySourceActions.flatMap { act =>
            VersionedTable.prunedFiles(spark, snap,
              ColumnBridge.column(deQualified(act.condition.get)))._1
          }.toSet
        }.toOption
      // the detection join ALSO answers the SQL cardinality rule (does
      // any target row match >1 source row?) in the same job — phase 2
      // previously re-executed the whole full-outer join for that one
      // boolean, a full extra Spark execution per MERGE (~0.3 s on the
      // group-sized MV refresh merges, row-scale on big ones).
      // Some(true/false) when detection ran; None = not answered here
      // (full-rewrite road), phase 2 then checks the old way.
      var detectionDup: Option[Boolean] = None
      val keptRefs: Option[Seq[String]] =
        nmbsTouched match {
          case None => None
          case Some(nmbs) =>
            val sDet = CommandBridge.dataFrame(spark, m.sourceTable)
            // the detection join feeds the MATCHED fates and keeps the
            // insert branch exact (a source row matching only an excluded
            // file would mis-insert) — with neither branch present (the
            // pure NMBS sweep) matched rows keep wherever they sit and
            // the join needs none of them
            val touched: Set[String] =
              if (m.matchedActions.isEmpty && m.notMatchedActions.isEmpty)
                Set.empty
              else {
                val cand = candidateRefs(spark, snap, m, sDet)
                cand match {
                  case Some(c) if c.isEmpty =>
                    detectionDup = Some(false) // provably nothing matches
                    Set.empty
                  case c =>
                    val scan = bucketEligible match {
                      case Some((fb, bkeys, n)) =>
                        val refsToScan = c.map(_.toSeq).getOrElse(
                          VersionedTable.dataFileRefs(spark, snap))
                        val byBucket = refsToScan.map(r => r -> fb(r))
                          .groupBy(_._2)
                          .map { case (b, rs) => b -> rs.map(_._1) }
                        graft.sources.Bucketing.bucketAlignedSliceWithRef(
                          spark, snap, bkeys, n, byBucket,
                          readDf.schema, "__t_file")
                      case None => VersionedTable.readVersionWithFileRef(
                        spark, snap, "__t_file", c.map(_.toSeq.sorted))
                    }
                    // a per-row id on the DETECTION scan: multiplicity per
                    // matched target row rides the same job as the file
                    // set (two-level agg keeps the collect ≤ #files rows;
                    // candidate-pruned rows have multiplicity 0 by proof)
                    val tScanPlan = m.targetTable.transform {
                      case _: UnresolvedRelation =>
                        scan.withColumn("__t_drid", monotonically_increasing_id())
                          .queryExecution.analyzed
                    }
                    val det = CommandBridge.dataFrame(spark, tScanPlan)
                      .join(sDet, ColumnBridge.column(m.mergeCondition))
                      .groupBy(col("__t_file"), col("__t_drid"))
                      .agg(count(lit(1)).as("__n"))
                      .groupBy(col("__t_file")).agg(max(col("__n")).as("__mx"))
                      .collect() // metadata-scale: ≤ #files rows
                    detectionDup = Some(det.exists(_.getLong(1) > 1L))
                    det.map(_.getString(0)).toSet
                }
              }
            Some(VersionedTable.dataFileRefs(spark, snap)
              .filterNot(r => touched(r) || nmbs(r)))
        }
      // phase 2 — the merge itself, over the touched slice (COW/MOR) or
      // the whole snapshot (full rewrite). Substitute the path relation
      // with the pinned frame's plan, PRESERVING the user's alias node
      // above it. With deletion vectors enabled, a COW-eligible merge
      // that touches files goes MERGE-ON-READ: the touched slice reads
      // TAGGED with each row's physical (file, position), matched rows
      // are masked where they sit, and only updated images + inserts are
      // written — bytes ∝ affected rows, not touched files.
      val touchedRefs: Option[Seq[String]] = keptRefs.map(kept =>
        VersionedTable.dataFileRefs(spark, snap).filterNot(kept.toSet))
      val morMode = touchedRefs.exists(_.nonEmpty) &&
        VersionedTable.boolProperty(spark, root, DvProperty)
      // RECORDED BUCKET LAYOUT road for the statement users actually
      // write (graft.sources.Bucketing — the Sinks.upsertByKeyVersionedCow
      // road's SQL MERGE face): on a bucketized COW-eligible target whose
      // ON condition equi-joins the bucket key, the touched slice reads
      // BUCKET-ALIGNED with the layout's HashPartitioning claimed, so the
      // merge's full-outer join inserts NO target-side exchange — only
      // the source shuffles, O(delta). The claim is correct by
      // construction of the slice (purity proven per file by origin
      // stamp), independent of how the planner uses it: a detection miss
      // only costs the shuffle back. MOR merges ride the TAGGED form of
      // the claimed slice (the mask columns join the claimed schema —
      // mask folding only removes rows, so a bucket's survivors still
      // hash to their bucket), and their commit re-stamps the layout
      // with the written delta explicitly repartitioned by the key —
      // O(affected rows), the MOR write's own size.
      val bucketRoad: Option[(Map[String, Int], Seq[String], Int)] =
        if (morMode || keptRefs.isEmpty) None else bucketEligible
      val morBucket: Option[(Map[String, Int], Seq[String], Int)] =
        if (morMode) bucketEligible else None
      def byBucketOf(fb: Map[String, Int], touched: Seq[String]) =
        touched.map(r => r -> fb(r))
          .groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1) }
      val targetFrame = touchedRefs match {
        case Some(touched) =>
          if (touched.isEmpty) readDf.limit(0)
          else if (morMode) morBucket match {
            case Some((fb, bkeys, n)) =>
              graft.sources.Bucketing.bucketAlignedSliceTagged(
                spark, snap, bkeys, n, byBucketOf(fb, touched),
                readDf.schema)
            case None =>
              VersionedTable.scan(spark, snap, Some(touched), tagFile = true, tagPos = true)
          }
          else bucketRoad match {
            case Some((fb, bkeys, n)) =>
              graft.sources.Bucketing.bucketAlignedSlice(
                spark, snap, bkeys, n, byBucketOf(fb, touched),
                readDf.schema)
            case None => VersionedTable.scan(spark, snap, Some(touched))
          }
        case None => readDf
      }
      val tPlan = m.targetTable.transform {
        case _: UnresolvedRelation => targetFrame.queryExecution.analyzed
      }
      val tDf = CommandBridge.dataFrame(spark, tPlan)
        .withColumn("__t_present", lit(1))
        .withColumn("__t_rid", monotonically_increasing_id())
      val sDf = CommandBridge.dataFrame(spark, m.sourceTable)
        .withColumn("__s_present", lit(1))
      val joined = tDf.join(sDf, ColumnBridge.column(m.mergeCondition), "full_outer")
      val tPresent = col("__t_present").isNotNull
      val sPresent = col("__s_present").isNotNull

      if (m.matchedActions.nonEmpty) {
        // answered by the detection job when it ran; the full-rewrite
        // road (no detection) still pays its own check
        val dup = detectionDup.getOrElse {
          joined.filter(tPresent && sPresent)
            .groupBy(col("__t_rid")).count()
            .filter(col("count") > 1).limit(1).count() > 0L
        }
        require(!dup,
          "MERGE: a target row matches multiple source rows — refusing the " +
            "nondeterministic update/delete (the SQL-standard cardinality rule)")
      }

      def actCond(c: Option[Expression]): Column =
        c.map(ColumnBridge.column).getOrElse(lit(true))
      // explicit assignments must name real target columns — the fate
      // fold would otherwise silently skip a typo'd SET/INSERT column,
      // the same silent no-op updateWhere refuses
      val tColSet = tSchema.fieldNames.map(_.toLowerCase).toSet
      def checked(as: Map[String, Column]): Map[String, Column] = {
        val bad = as.keys.filterNot(k => tColSet(k.toLowerCase))
        require(bad.isEmpty,
          s"MERGE: unknown target column(s) in assignment: ${bad.mkString(", ")}")
        as
      }
      // generated columns REGENERATE through merge assignments (the
      // updateWhere rule): an action assigning a generator's BASE but
      // not the generated column gets the generated assignment added —
      // a raw-source INSERT * lands in the right partition, an UPDATE
      // moving the base keeps the partition value in agreement. An
      // action assigning BOTH is validated by the enforcement scan.
      val genDefs = graft.sources.GeneratedCols.of(
        VersionedTable.propertiesOf(spark, snap))
      def withGenerated(as: Map[String, Column]): Map[String, Column] =
        genDefs.foldLeft(as) { case (m0, (c, g)) =>
          if (m0.keys.exists(_.equalsIgnoreCase(c))) m0
          else m0.keys.find(_.equalsIgnoreCase(g.base)) match {
            case Some(bk) =>
              val name = tSchema.fieldNames
                .find(_.equalsIgnoreCase(c)).getOrElse(c)
              m0.updated(name, g.expr(m0(bk)))
            case None => m0
          }
        }
      // STORED GENERATED + IDENTITY column rules for MERGE (the Delta
      // shape): a stored expression column is GENERATED ALWAYS here —
      // naming it in SET/INSERT is refused up front and star expansion
      // excludes it, so regenExprs below can recompute it over every
      // written row unconditionally. An identity column is GENERATED BY
      // DEFAULT — explicit values (named or via star from a source that
      // carries the column) pass through; only unassigned identity
      // columns allocate.
      val tableProps = VersionedTable.propertiesOf(spark, snap)
      val exprGenDefs = graft.sources.GeneratedCols.exprsOf(tableProps)
      val identDefs = graft.sources.GeneratedCols.identitiesOf(tableProps)
      val namedAssigns: Set[String] =
        (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
          .flatMap {
            case u: UpdateAction => u.assignments.map(a => keyName(a.key).toLowerCase)
            case i: InsertAction => i.assignments.map(a => keyName(a.key).toLowerCase)
            case _ => Nil
          }.toSet
      val exprNamed = exprGenDefs.keys.filter(c => namedAssigns(c.toLowerCase))
      require(exprNamed.isEmpty,
        s"MERGE cannot assign stored generated column(s) " +
          s"${exprNamed.toSeq.sorted.mkString(", ")} — they regenerate " +
          "from their recorded expression (GENERATED ALWAYS)")
      // IDENTITY allocation is decided PER INSERT ACTION, never pooled
      // across the merge: a matched UPDATE assigning the column — or a
      // sibling INSERT carrying it explicitly — must not suppress
      // allocation for an INSERT action that omits it (the pooled form
      // silently wrote null ids into a non-nullable column). freeIdents
      // = identity columns at least one insert action omits; within
      // those, the MIXED ones (some action assigns, some doesn't) keep
      // explicit values per row, restored by the fate code below.
      val insertAssigns: Seq[Set[String]] = m.notMatchedActions.map {
        case i: InsertAction =>
          i.assignments.map(as => keyName(as.key).toLowerCase).toSet
        case _: InsertStarAction => sDf.columns.map(_.toLowerCase).toSet
        case _ => Set.empty[String]
      }
      val assigningIdx: Map[String, Seq[Int]] = identDefs.keys.map { c =>
        c -> insertAssigns.zipWithIndex.collect {
          case (s, i) if s(c.toLowerCase) => i }
      }.toMap
      // empty notMatchedActions ⇒ no free columns ⇒ the allocation (and
      // its O(batch) pin + count) is skipped entirely on update-only
      // merges — inserts0 is provably empty there
      val freeIdents = identDefs.filter { case (c, _) =>
        assigningIdx(c).size < m.notMatchedActions.size }
      val mixedIdents: Seq[String] = freeIdents.keys.toSeq
        .filter(c => assigningIdx(c).nonEmpty).sorted
      def assignsOf(a: MergeAction): Map[String, Column] = withGenerated(a match {
        case u: UpdateAction =>
          checked(u.assignments.map(as =>
            keyName(as.key) -> ColumnBridge.column(as.value)).toMap)
        case i: InsertAction =>
          checked(i.assignments.map(as =>
            keyName(as.key) -> ColumnBridge.column(as.value)).toMap)
        case _: UpdateStarAction | _: InsertStarAction =>
          // star covers the SOURCE's columns (the Delta rule): target-only
          // columns keep their values on update and insert as null — with
          // evolution the target is the wider side, so this is what makes
          // SET * / INSERT * legal against a narrower source. Stored
          // generated columns are EXCLUDED (they regenerate; a source
          // that happens to carry the name must not override the
          // contract).
          val sCols = sDf.columns.map(_.toLowerCase).toSet
          val gen = exprGenDefs.keySet.map(_.toLowerCase)
          tSchema.fieldNames.filter(n =>
            sCols(n.toLowerCase) && !gen(n.toLowerCase))
            .map(n => n -> sDf(n)).toMap
        case _ => Map.empty
      })
      // first applicable action decides the fate: -1 delete, -999 none
      // (keep / drop), i the action's index offset by branch
      def fateChain(acts: Seq[MergeAction], code: Int => Int): Column =
        acts.zipWithIndex.foldRight(lit(-999): Column) { case ((a, i), rest) =>
          when(actCond(a.condition),
            lit(a match { case _: DeleteAction => -1; case _ => code(i) }))
            .otherwise(rest)
        }
      val fate =
        when(tPresent && sPresent, fateChain(m.matchedActions, i => i))
          .when(tPresent && !sPresent,
            fateChain(m.notMatchedBySourceActions, i => 100 + i))

      val updates: Seq[(Int, Map[String, Column])] =
        m.matchedActions.zipWithIndex.collect {
          case (a @ (_: UpdateAction | _: UpdateStarAction), i) => (i, assignsOf(a))
        } ++
        m.notMatchedBySourceActions.zipWithIndex.collect {
          case (a: UpdateAction, i) => (100 + i, assignsOf(a))
        }
      // per-field value a SURVIVING target row keeps/updates to, and the
      // value an INSERT row lands — shared by the branch frames below
      // and by the single-pass fused frames (which combine them per row)
      def survivorValue(f: org.apache.spark.sql.types.StructField): Column =
        updates.foldRight(tDf(f.name): Column) { case ((code, as), rest) =>
          as.get(f.name).map(v => when(fate === code, v).otherwise(rest))
            .getOrElse(rest)
        }.cast(f.dataType)
      val outValues = tSchema.fields.toSeq.map(f => survivorValue(f).as(f.name))
      val survivors = joined.filter(tPresent && fate =!= -1).select(outValues: _*)

      val fateIns = fateChain(m.notMatchedActions, i => i)
      val fateInsCol = "__graft_fate_ins"
      def insertValue(f: org.apache.spark.sql.types.StructField): Column =
        m.notMatchedActions.zipWithIndex.foldRight(lit(null): Column) {
          case ((a, i), rest) =>
            assignsOf(a).get(f.name)
              .map(v => when(fateIns === i, v).otherwise(rest))
              .getOrElse(rest)
        }.cast(f.dataType)
      val insertCols = tSchema.fields.toSeq.map(f => insertValue(f).as(f.name))
      // a MIXED identity column needs the deciding action's code per
      // row to restore explicit values after allocation — carried as a
      // helper column, dropped before the frame leaves this road
      val inserts0 = joined.filter(!tPresent && sPresent && fateIns >= 0)
        .select((if (mixedIdents.isEmpty) insertCols
                 else insertCols :+ fateIns.as(fateInsCol)): _*)

      // Regeneration + allocation over the written frames: stored
      // expression columns recompute on every written row (an UPDATE
      // moving a base keeps the stored value in agreement, an insert
      // computes its own, carried rows recompute to themselves —
      // deterministic exprs make this idempotent); an identity column no
      // action assigns is dropped from the insert image and allocated
      // above the recorded high-water, the append road's shape — advance
      // and in-claim basis check threaded explicitly because this road
      // built the frame, not commitCow.
      def regenExprs(d0: DataFrame): DataFrame =
        exprGenDefs.toSeq.sortBy(_._1).foldLeft(d0) { case (d, (c, text)) =>
          val f = tSchema.find(_.name.equalsIgnoreCase(c))
          val name = f.map(_.name).getOrElse(c)
          val meta = new org.apache.spark.sql.types.MetadataBuilder()
            .putBoolean(graft.sources.GeneratedCols.PopulatedKey, true).build()
          val computed = f.map(ff => expr(text).cast(ff.dataType))
            .getOrElse(expr(text))
          d.withColumn(name, computed.as(name, meta))
        }
      val (inserts, idAdvProps, idCheck, idRelease) =
        if (freeIdents.isEmpty)
          (regenExprs(inserts0), Map.empty[String, String], (_: Long) => (),
            () => ())
        else {
          // park mixed columns' explicit values under helper names,
          // allocate for EVERY insert row (ids consumed by rows that
          // then keep their explicit value leave gaps — the BY DEFAULT
          // contract permits gaps), restore per row by the fate code
          val parked = mixedIdents.foldLeft(regenExprs(inserts0)) { (d, c) =>
            d.withColumnRenamed(
              d.columns.find(_.equalsIgnoreCase(c)).getOrElse(c),
              "__graft_explicit_" + c.toLowerCase) }
          val pureFree = freeIdents.keys.toSeq
            .filterNot(c => assigningIdx(c).nonEmpty)
          val (alloc, adv, chk, rel) = VersionedTable.identityAllocate(
            spark, root, parked.drop(pureFree: _*),
            tableProps, Some(base), Some(freeIdents))
          val restored = mixedIdents.foldLeft(alloc) { (d, c) =>
            val name = tSchema.find(_.name.equalsIgnoreCase(c))
              .map(_.name).getOrElse(c)
            val explicitC = "__graft_explicit_" + c.toLowerCase
            d.withColumn(name,
              when(col(fateInsCol).isin(assigningIdx(c): _*),
                col(explicitC).cast(org.apache.spark.sql.types.LongType))
                .otherwise(col(name)))
              .drop(explicitC)
          }
          (if (mixedIdents.isEmpty) restored else restored.drop(fateInsCol),
            adv, chk, rel)
        }
      val advProps: Option[Map[String, String]] =
        if (idAdvProps.isEmpty) None else Some(tableProps ++ idAdvProps)

      // CHANGE FEED: merge commits carry their feed like every graft
      // writer — delete pre-images, update pre/post pairs, insert rows —
      // so incremental consumers keep working across SQL merges. Built
      // from the identity-populated insert image so CDC consumers see
      // the allocated ids, never nulls (the append road's rule).
      val tCols = tSchema.fields.toSeq.map(f =>
        tDf(f.name).cast(f.dataType).as(f.name))
      val updFilter = updates.map { case (code, _) => fate === code }
        .reduceOption(_ || _).getOrElse(lit(false))
      val insertFilter = !tPresent && sPresent && fateIns >= 0
      // ONE WRITE EXECUTION PER MERGE (the Delta CDF write shape: one
      // plan over the join, several sinks). Each joined row that yields
      // anything becomes ONE routed row ([[RoutedWrite]]): its data image
      // (a survivor or an insert, decided per row) under the table's
      // names, whether that image is written (`keep`), its ≤2 change
      // images (delete/pre-image first, post-image/insert second) and,
      // merge-on-read, the (file, pos) it masks. commitWith's staged
      // write lands all of them in the same task, so the join runs once
      // per commit instead of once per sink. `rows` and `keep`
      // parameterise the road: COW/full-rewrite keep carried survivors,
      // MOR keeps only updated images + inserts and masks the rest.
      // Regeneration runs over flat columns named as the table's — first
      // the pre-images, then the data images — so post/insert images
      // compute from their bases and delete/pre images recompute to
      // themselves (deterministic generators — the recorded contract),
      // the branch road's rule applied per image.
      def routedFrame(rows: Column, keep: Column, mask: Boolean): DataFrame = {
        val fields = tSchema.fields.toSeq
        val pre = fields.indices.map(i => s"__graft_pre_$i")
        val img = fields.indices.map(i => s"__graft_img_$i")
        val flags = Seq("__graft_del", "__graft_upd", "__graft_ins", RoutedWrite.Keep) ++
          (if (mask) Seq("__dv_file", "__dv_pos") else Nil)
        val pres = regenExprs(joined.filter(rows).select(tCols ++
          fields.zip(img).map { case (f, n) =>
            when(tPresent, survivorValue(f)).otherwise(insertValue(f)).as(n) } ++
          Seq((tPresent && fate === -1).as("__graft_del"),
            (tPresent && updFilter).as("__graft_upd"),
            insertFilter.as("__graft_ins"), keep.as(RoutedWrite.Keep)) ++
          (if (mask) Seq(col("__dv_file"), col("__dv_pos")) else Nil): _*))
        val imgs = regenExprs(pres.select(
          fields.zip(img).map { case (f, n) => col(n).as(f.name) } ++
            fields.zip(pre).map { case (f, n) => col(f.name).as(n) } ++
            flags.map(col): _*))
        // the feed's schema: the data image's fields, nullable, then the
        // change type — both images cast to it, so each `_changes` file
        // carries one schema
        val feedType = org.apache.spark.sql.types.StructType(
          fields.map(f => imgs.schema(f.name).copy(nullable = true)) :+
            org.apache.spark.sql.types.StructField("_change_type",
              org.apache.spark.sql.types.StringType))
        def image(names: Seq[String], changeType: Column): Column =
          struct(fields.zip(names).map { case (f, n) => col(n).as(f.name) } :+
            changeType.as("_change_type"): _*).cast(feedType)
        val (del, upd, ins) = (col("__graft_del"), col("__graft_upd"), col("__graft_ins"))
        imgs.select(fields.map(f => col(f.name)) ++ Seq(col(RoutedWrite.Keep),
          when(del || upd, image(pre, when(del, lit("delete"))
            .otherwise(lit("update_preimage")))).as(RoutedWrite.sideCol("changes", 0)),
          when(upd || ins, image(fields.map(_.name), when(upd, lit("update_postimage"))
            .otherwise(lit("insert")))).as(RoutedWrite.sideCol("changes", 1))) ++
          (if (!mask) Nil
           else Seq(when(del || upd, struct(col("__dv_file").as("file"),
             col("__dv_pos").as("pos"))).as(RoutedWrite.sideCol("dv", 0)))): _*)
      }
      // the IDENTITY-ALLOCATING branch road's feed: the allocator
      // reshapes the insert branch, so its fates can't fuse into the
      // routed frame — one frame per change kind, written by the commit
      // as its own staged execution
      def branchFeed: DataFrame =
        joined.filter(tPresent && fate === -1)
          .select(tCols: _*).withColumn("_change_type", lit("delete"))
          .unionByName(joined.filter(tPresent && updFilter)
            .select(tCols: _*).withColumn("_change_type", lit("update_preimage")))
          .unionByName(regenExprs(joined.filter(tPresent && updFilter)
            .select(outValues: _*))
            .withColumn("_change_type", lit("update_postimage")))
          .unionByName(inserts.withColumn("_change_type", lit("insert")))
      val fused = freeIdents.isEmpty
      val feedExtras: Map[String, DataFrame] =
        (if (fused) Map.empty[String, DataFrame] else Map("changes" -> branchFeed)) ++ extraTables

      val occCheck: Long => Unit = w => {
        VersionedTable.occValidate(spark, root, Some(snap))(w)
        idCheck(w)
        extraPreCommit(w)
      }
      // per attempt: a lost race re-allocates against fresh properties,
      // the superseded pin's blocks must not outlive the attempt
      try {
        if (morMode) {
          // mask every matched row an action affected (delete or update)
          // at its physical position; append updated images + inserts;
          // carry EVERY file by reference — pass-through rows of touched
          // files stay where they are, unmasked
          val affected = tPresent && (fate === -1 || updFilter)
          val morWritten =
            if (fused) routedFrame(affected || insertFilter,
              (tPresent && updFilter) || insertFilter, mask = true)
            else regenExprs(joined.filter(tPresent && updFilter).select(outValues: _*))
              .unionByName(inserts)
          // empty-safety (a 0-partition plan leaving a schemaless
          // sidecar) is enforced at staging time by commitWith's
          // ensureSchemaPart backstop
          val maskExtras: Map[String, DataFrame] =
            if (fused) Map.empty
            else Map("dv" -> joined.filter(affected)
              .select(col("__dv_file").as("file"), col("__dv_pos").as("pos")))
          // on a bucketized target, land the written delta (updated
          // images + inserts — O(affected rows)) back IN the layout via
          // one explicit repartition that re-hashes actual values, and
          // stamp the commit: the NEXT merge then rides the claimed
          // road again. Without the stamp a single MOR merge would
          // orphan the layout (its fresh files' origin commit carries
          // no spec, so pureBuckets degrades every later merge to the
          // key-range road).
          val (morOut, morInfo) = morBucket match {
            case Some((_, bkeys, n)) =>
              graft.sources.Bucketing.relayout(morWritten, bkeys, n)
            case None =>
              (morWritten, Map.empty[String, String])
          }
          VersionedTable.commitCow(morOut, root,
            VersionedTable.dataFileRefs(spark, snap),
            extras = maskExtras ++ feedExtras,
            preCommit = occCheck, recordInfo = morInfo,
            recordProperties = advProps)
        } else {
          // COW and full rewrite write the same rows: carried survivors,
          // updated images and inserts; deletes route only their feed
          val rows = tPresent || insertFilter
          val keep = (tPresent && fate =!= -1) || insertFilter
          def written: DataFrame =
            if (fused) routedFrame(rows, keep, mask = false)
            else regenExprs(survivors).unionByName(inserts)
          keptRefs match {
            case Some(kept) =>
              // on the bucket road, keep the written rows in the layout and
              // STAMP the commit, so the NEXT merge rides the claimed road
              // again instead of degrading to the key-range fallback. Both
              // branches come off the claimed join bucket-aligned, so the
              // zero-exchange path is a per-partition concat
              // (PartitionBridge.alignedConcat) of the target-side and the
              // insert rows; identity allocation reshapes the insert
              // branch, and any optimizer surprise changes a branch's
              // partition count — both fall back to ONE explicit
              // O(written-bytes) repartition, always correct.
              val (outF, bucketInfo) = bucketRoad match {
                case Some((_, bkeys, n)) =>
                  val keyNames = bkeys.map(k => tSchema.fieldNames
                    .find(_.equalsIgnoreCase(k)).getOrElse(k))
                  // a generated/identity bucket key can MOVE under
                  // regeneration without any assignment naming it — the
                  // aligned road is never provable there
                  val keyGenerated = bkeys.exists(k =>
                    exprGenDefs.keys.exists(_.equalsIgnoreCase(k)) ||
                      genDefs.keys.exists(_.equalsIgnoreCase(k)) ||
                      identDefs.keys.exists(_.equalsIgnoreCase(k)))
                  val aligned =
                    if (!fused || keyGenerated ||
                        !bkeys.forall(k =>
                          bucketKeyAssignmentsSafe(m, k, sDf.columns.toSeq)))
                      None
                    else org.apache.spark.sql.graft.PartitionBridge
                      .alignedConcat(spark, routedFrame(tPresent, keep, mask = false),
                        routedFrame(insertFilter, keep, mask = false), keyNames, n)
                  (aligned.getOrElse(
                      written.repartition(n, keyNames.map(col): _*)),
                    Map(graft.sources.Bucketing.BucketedInfoKey ->
                      graft.sources.Bucketing.specString(bkeys, n)))
                case None => (written, Map.empty[String, String])
              }
              VersionedTable.commitCow(outF, root, kept,
                extras = feedExtras,
                preCommit = occCheck,
                recordInfo = bucketInfo,
                recordProperties = advProps)
            case None => VersionedTable.commit(written, root,
              // column defaults survive via commitWith's metadata-merge
              // fallback; nullability stays the frame's (a not-matched
              // INSERT null-fills unassigned columns by design)
              extras = feedExtras, preCommit = occCheck,
              recordProperties = advProps)
          }
        }
      } finally idRelease()
    }
  }
}

/** The injected parser ([[GraftExtensions]]): maintenance verbs are
  * recognized up front (Spark has no grammar for them); everything else
  * goes through the delegate, and parsed DML nodes with path targets are
  * substituted with graft commands. Every other statement — and every
  * other parser entry point — is the delegate's, untouched. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan = {
    val sql = GraftSql.rewriteTimeTravel(GraftSql.resolveNamesActive(sqlText))
    GraftSql.maintenancePlan(sql)
      .getOrElse(GraftSql.rewriteDml(delegate.parsePlan(sql)))
  }
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(
      GraftSql.rewriteTimeTravel(GraftSql.resolveNamesActive(sqlText)))
  override def parseRoutineParam(sqlText: String) =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) =
    delegate.parseDataType(sqlText)
}
