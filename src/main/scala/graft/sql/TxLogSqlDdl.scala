package graft.sql

import graft.pipeline.TxLog
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampType}

/** SQL DDL face of [[TxLog]] tables — the statements Delta adds beyond
  * ANSI, routed through an injected parser (the DeltaSqlParser
  * pattern: intercept the scoped statement forms, delegate everything
  * else untouched):
  *
  *   - `CREATE TABLE [IF NOT EXISTS] name (cols) USING graft
  *      [TBLPROPERTIES|OPTIONS ('keys'='k1,k2', 'statsCols'='c1,c2')]
  *      [LOCATION 'path']` — creates the transaction log (an empty v0
  *      snapshot carrying the declared schema) and [[TxLogSql.register]]s
  *      the name for DML/SELECT/TVF use. Omitting the column list
  *      ATTACHES an existing table at LOCATION (Delta's external-table
  *      create).
  *   - `DESCRIBE HISTORY name` — [[TxLog.history]] as a statement.
  *   - `VACUUM name [RETAIN n VERSIONS]` — [[TxLog.vacuum]]. The
  *      retention unit is VERSIONS, not Delta's HOURS: TxLog retention
  *      is version-count-based (documented divergence; the time-based
  *      knob is a deployment's vacuum scheduler).
  *   - `OPTIMIZE name [ZORDER BY (c1, ...)]` —
  *      [[TxLog.compactSmallFiles]] (bin-packing, Delta's OPTIMIZE) or
  *      [[TxLog.compactZOrder]] (one column or more).
  *   - `ALTER TABLE name ADD CONSTRAINT n CHECK (p)` /
  *      `ALTER TABLE name DROP CONSTRAINT n` —
  *      [[TxLog.addConstraint]] (existing data validated, then a
  *      metadata-only commit) / [[TxLog.dropConstraint]]. Intercepted
  *      ONLY for registered names: ALTER TABLE is real Spark grammar
  *      and must keep working for catalog tables.
  *   - `CREATE [OR REPLACE] TABLE … USING graft AS SELECT …` — CTAS;
  *      OR REPLACE overwrites THROUGH the log (history preserved).
  *   - `RESTORE [TABLE] name TO VERSION AS OF n | TO TIMESTAMP AS OF
  *      'ts'` — [[TxLog.restoreTo]] (metadata-only rollback-as-commit).
  *   - `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]
  *      [LOCATION '…']` — [[TxLog.shallowCloneTo]] (zero-copy).
  *   - `ALTER TABLE name ADD COLUMNS (…)` / `RENAME COLUMN a TO b` /
  *      `DROP COLUMN c` — [[TxLog.addColumns]] (additive evolution) /
  *      column mapping ([[TxLog.renameColumn]]/[[TxLog.dropColumn]],
  *      zero data rewritten). Registered names only, like the
  *      constraint forms.
  *   - `SHOW CREATE TABLE name` — the re-runnable DDL with keys,
  *      cluster column, CHECK constraints, and persisted properties
  *      as TBLPROPERTIES.
  *   - `ALTER TABLE name SET TBLPROPERTIES ('k' = 'v', …)` /
  *      `UNSET TBLPROPERTIES [IF EXISTS] ('k', …)` /
  *      `SHOW TBLPROPERTIES name [('k')]` — free-form table metadata
  *      ([[TxLog.setProperties]]); `graft.inCommitTimestamps` and
  *      `graft.vacuum.retainVersions` are behavior-bearing.
  *   - `CONVERT TO GRAFT parquet.`/path` [PARTITIONED BY (col TYPE)]`
  *      — [[TxLog.convertFrom]]: zero-rewrite in-place import of an
  *      existing parquet directory (flat or hive-partitioned).
  *
  * Only statements whose shape matches exactly are intercepted —
  * `VACUUM`/`OPTIMIZE`/`DESCRIBE HISTORY` are not ANSI SQL and do not
  * collide with built-in statements; `CREATE TABLE` is intercepted
  * ONLY for `USING graft`. Anything else (including malformed graft
  * DDL) falls through to Spark's parser and its error messages.
  *
  * Reference: `db_notebook.ipynb:39,78,101` (the reference manages its
  * lakehouse tables through SQL DDL; this face is the TxLog parity).
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case HistoryRe(name) => TxLogHistoryCommand(name)
    case VacuumRe(name, retain, dry) =>
      TxLogVacuumCommand(name, Option(retain).map(_.toInt),
        dryRun = dry != null)
    case OptimizeRe(name, where, zcols) =>
      TxLogOptimizeCommand(name, Option(zcols).toSeq.flatMap(
        _.split(',').map(_.trim).filter(_.nonEmpty)),
        Option(where).map(_.trim).filter(_.nonEmpty))
    case ReorgRe(name, where) =>
      TxLogReorgCommand(name, Option(where).map(_.trim).filter(_.nonEmpty))
    // RESTORE and SHALLOW CLONE are Delta-only grammar (no built-in
    // statement to collide with) — intercepted unconditionally;
    // an unregistered name fails with this face's error message
    case RestoreRe(name, v) => TxLogRestoreCommand(name, Left(v.toLong))
    case RestoreTsRe(name, ts) => TxLogRestoreCommand(name, Right(ts))
    case ConvertRe(bt, q, pc, typ) =>
      TxLogConvertCommand(Option(bt).getOrElse(q),
        Option(pc).map(p => (p, typ.trim)))
    case CopyIntoRe(name, path, fmt, tail) =>
      val t = Option(tail).getOrElse("")
      requireCleanTail("COPY INTO", t, Seq(PatternRe, FormatOptsRe, CopyOptsRe))
      // the regex accepts any word here — validate at PARSE time so a
      // typo'd format fails at the statement, not inside the load
      if (!Set("parquet", "csv", "json")(fmt.toLowerCase(java.util.Locale.ROOT)))
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            (s"TxLog SQL DDL: COPY INTO FILEFORMAT '$fmt' is not supported " +
              "(PARQUET | CSV | JSON)")))
      TxLogCopyIntoCommand(name, path, fmt.toLowerCase(java.util.Locale.ROOT),
        PatternRe.findFirstMatchIn(t).map(_.group(1)),
        quotedOpts(t, "FORMAT_OPTIONS"),
        quotedOpts(t, "COPY_OPTIONS").get("force").contains("true"))
    case CloneRe(ifNot, dst, src, ver, tail) =>
      requireCleanTail("CREATE TABLE ... SHALLOW CLONE",
        Option(tail).getOrElse(""), Seq(LocationRe))
      TxLogCloneCommand(dst, src, Option(ver).map(_.toLong),
        LocationRe.findFirstMatchIn(Option(tail).getOrElse("")).map(_.group(1)),
        ifNotExists = ifNot != null)
    case CreateRe(orRepl, ifNot, name, cols, tail) =>
      // PARTITIONED BY (c) clause, or the 'clustered_by' property
      // SHOW CREATE TABLE emits — accepting both keeps that output
      // re-runnable for partitioned tables. An unsupported shape
      // (multi-column, typed Hive-style) must fail LOUDLY: silently
      // creating an unpartitioned table would surface only much later
      // as a missing-partitioning error.
      val clusteredBy = PartitionedByRe.findFirstMatchIn(tail).map(_.group(1))
        .orElse(propList(tail, "clustered_by").headOption)
      if (clusteredBy.isEmpty &&
          "(?is)PARTITIONED\\s+BY".r.findFirstIn(tail).isDefined)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            ("CREATE TABLE ... USING graft supports only single-column " +
              "PARTITIONED BY (col) — for multi-column physical layouts " +
              "use OPTIMIZE ... ZORDER BY after load")))
      requireCleanTail("CREATE TABLE ... USING graft", tail,
        Seq(AsSelectRe, TblPropsClauseRe, OptionsClauseRe, LocationRe,
          PartitionedByRe))
      TxLogCreateTableCommand(name, Option(cols),
        LocationRe.findFirstMatchIn(tail).map(_.group(1)),
        propList(tail, "keys"), propList(tail, "statsCols"),
        ifNotExists = ifNot != null, orReplace = orRepl != null,
        asSelect = AsSelectRe.findFirstMatchIn(tail).map(_.group(1).trim),
        clusteredBy = clusteredBy, props = userProps(tail))
    // ALTER TABLE exists in Spark's own grammar, so these forms
    // intercept ONLY for names this registry knows — everything else
    // (including ALTER on catalog tables) parses through the delegate
    case AlterAddCheckRe(name, cname, predicate)
        if TxLogSql.lookupMeta(name).isDefined =>
      TxLogAddConstraintCommand(name, cname, predicate.trim)
    case AlterDropCheckRe(name, cname)
        if TxLogSql.lookupMeta(name).isDefined =>
      TxLogDropConstraintCommand(name, cname)
    case AlterAddColsRe(name, cols)
        if TxLogSql.lookupMeta(name).isDefined =>
      TxLogAddColumnsCommand(name, cols)
    case AlterRenameColRe(name, from, to)
        if TxLogSql.lookupMeta(name).isDefined =>
      TxLogRenameColumnCommand(name, from, to)
    case AlterDropColRe(name, cname)
        if TxLogSql.lookupMeta(name).isDefined =>
      TxLogDropColumnCommand(name, cname)
    // SET/UNSET TBLPROPERTIES and SHOW TBLPROPERTIES are real Spark
    // grammar — intercepted only for registered names
    case AlterSetPropsRe(name, pairs)
        if TxLogSql.lookupMeta(name).isDefined =>
      TxLogSetPropertiesCommand(name, propPairs(pairs))
    case AlterUnsetPropsRe(name, ifExists, keys)
        if TxLogSql.lookupMeta(name).isDefined =>
      TxLogUnsetPropertiesCommand(name, propKeys(keys), ifExists != null)
    case ShowTblPropsRe(name, key)
        if TxLogSql.lookupMeta(name).isDefined =>
      TxLogShowPropertiesCommand(name, Option(key))
    // ANALYZE TABLE is real Spark grammar — registered names only
    case AnalyzeRe(name, forClause)
        if TxLogSql.lookupMeta(name).isDefined =>
      val fc = Option(forClause).map(_.trim)
      TxLogAnalyzeCommand(name,
        cols = fc.filter(_.toUpperCase(java.util.Locale.ROOT)
            .startsWith("COLUMNS")).toSeq
          .flatMap(_.drop("COLUMNS".length).split(',').map(_.trim)
            .filter(_.nonEmpty)),
        allColumns = fc.exists(_.toUpperCase(java.util.Locale.ROOT)
          .startsWith("ALL")))
    // DROP TABLE / DESCRIBE TABLE / SHOW CREATE TABLE are real Spark
    // grammar too — intercepted only for registered names
    case DropTableRe(_, name) if TxLogSql.lookupMeta(name).isDefined =>
      TxLogDropTableCommand(name)
    case ShowCreateRe(name) if TxLogSql.lookupMeta(name).isDefined =>
      TxLogShowCreateCommand(name)
    case DescribeRe(name) if TxLogSql.lookupMeta(name).isDefined =>
      TxLogDescribeCommand(name)
    // SHOW PARTITIONS is real Spark grammar; DESCRIBE DETAIL is
    // Delta-only — both intercepted only for registered names
    case ShowPartitionsRe(name) if TxLogSql.lookupMeta(name).isDefined =>
      TxLogShowPartitionsCommand(name)
    case DescribeDetailRe(name) if TxLogSql.lookupMeta(name).isDefined =>
      TxLogDescribeDetailCommand(name)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  // identifiers: dotted bare names (backticked names fall through to
  // the delegate — out of this face's scope)
  private val Id = """([\w.]+)"""
  private[sql] val HistoryRe =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+HISTORY\\s+$Id\\s*;?\\s*""".r
  private[sql] val VacuumRe =
    s"""(?is)\\s*VACUUM\\s+$Id(?:\\s+RETAIN\\s+(\\d+)\\s+VERSIONS)?(\\s+DRY\\s+RUN)?\\s*;?\\s*""".r
  private[sql] val ShowPartitionsRe =
    s"""(?is)\\s*SHOW\\s+PARTITIONS\\s+$Id\\s*;?\\s*""".r
  private[sql] val DescribeDetailRe =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+DETAIL\\s+$Id\\s*;?\\s*""".r
  private[sql] val OptimizeRe =
    s"""(?is)\\s*OPTIMIZE\\s+$Id(?:\\s+WHERE\\s+(.*?))?(?:\\s+ZORDER\\s+BY\\s*\\(([^)]*)\\))?\\s*;?\\s*""".r
  private[sql] val ReorgRe =
    s"""(?is)\\s*REORG\\s+TABLE\\s+$Id(?:\\s+WHERE\\s+(.*?))?\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*""".r
  // the two partition-predicate shapes OPTIMIZE WHERE accepts
  // RHS captured raw (quoted or bare) — TxLogMaintenance.unquote
  // canonicalizes; the tag encoding is the cast-to-string form, so
  // `p = 5` and `p = '5'` scope the same partition.
  private[sql] val WhereEqRe = """(?is)\s*([\w.]+)\s*=\s*(\S(?:.*\S)?)\s*""".r
  private[sql] val WhereInRe = """(?is)\s*([\w.]+)\s+IN\s*\(([^)]*)\)\s*""".r
  // greedy (.*) captures the full column list including nested parens
  // (DECIMAL(18,2)) because USING graft always follows the LAST paren
  private[sql] val CreateRe =
    s"""(?is)\\s*CREATE\\s+(?:(OR\\s+REPLACE)\\s+)?TABLE\\s+(?:(IF\\s+NOT\\s+EXISTS)\\s+)?$Id\\s*(?:\\((.*)\\))?\\s*USING\\s+graft\\b(.*)""".r
  private[sql] val LocationRe = """(?is)LOCATION\s+'([^']+)'""".r
  private[sql] val PartitionedByRe =
    """(?is)PARTITIONED\s+BY\s*\(\s*([\w.]+)\s*\)""".r
  // CTAS query text inside the CREATE tail: everything after the first
  // AS followed by a query-starting keyword (alias ASes can only occur
  // later, inside the query itself)
  private[sql] val AsSelectRe =
    """(?is)\bAS\s+((?:(?:SELECT|WITH|VALUES|FROM|TABLE)\b|\().*)$""".r
  private[sql] val RestoreRe =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$Id\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*""".r
  private[sql] val RestoreTsRe =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$Id\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*""".r
  private[sql] val CloneRe =
    s"""(?is)\\s*CREATE\\s+TABLE\\s+(?:(IF\\s+NOT\\s+EXISTS)\\s+)?$Id\\s+SHALLOW\\s+CLONE\\s+$Id(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?(.*)""".r
  private[sql] val AlterAddColsRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Id\\s+ADD\\s+COLUMNS?\\s*\\((.*)\\)\\s*;?\\s*""".r
  private[sql] val AlterRenameColRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Id\\s+RENAME\\s+COLUMN\\s+(\\w+)\\s+TO\\s+(\\w+)\\s*;?\\s*""".r
  private[sql] val AlterDropColRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Id\\s+DROP\\s+COLUMN\\s+(\\w+)\\s*;?\\s*""".r
  private[sql] val ShowCreateRe =
    s"""(?is)\\s*SHOW\\s+CREATE\\s+TABLE\\s+$Id\\s*;?\\s*""".r
  private[sql] val CopyIntoRe =
    s"""(?is)\\s*COPY\\s+INTO\\s+$Id\\s+FROM\\s+'([^']+)'\\s+FILEFORMAT\\s*=\\s*(\\w+)(.*)""".r
  private[sql] val PatternRe = """(?is)\bPATTERN\s*=\s*'([^']+)'""".r
  // quote-aware bodies (same pattern as OptionsClauseRe): a quoted
  // option VALUE may contain ')' — e.g. FORMAT_OPTIONS('sep'=')') —
  // and a [^)]* body would stop at it, leaving requireCleanTail to
  // reject the remainder of a valid statement as residue
  private[sql] val FormatOptsRe =
    """(?is)\bFORMAT_OPTIONS\s*\(((?:[^()']|'[^']*')*)\)""".r
  private[sql] val CopyOptsRe =
    """(?is)\bCOPY_OPTIONS\s*\(((?:[^()']|'[^']*')*)\)""".r
  // OPTIONS (...) — CREATE's second accepted clause spelling
  private[sql] val OptionsClauseRe =
    """(?is)\bOPTIONS\s*\(((?:[^()']|'[^']*')*)\)""".r

  /** Reject unrecognized text in a permissive statement tail. The
    * CREATE/CLONE/COPY tails are free-order `(.*)` captures so clause
    * order doesn't matter — but that permissiveness must never
    * silently swallow a typo'd clause: `TBLPROPERTIE (...)` parsing
    * as a table with NO properties is a MIS-parse, not a parse. Every
    * clause the extraction recognizes is removed (same regexes, same
    * precedence as extraction — the AS-SELECT suffix first, exactly
    * as the field extraction consumes it); anything left is a loud
    * error naming the residue. */
  private[sql] def requireCleanTail(stmt: String, tail: String,
      clauses: Seq[scala.util.matching.Regex]): Unit = {
    val residue = clauses.foldLeft(tail)((t, re) =>
      re.replaceAllIn(t, " ")).replaceAll("[;\\s]+$", "").trim
    if (residue.nonEmpty)
      throw new AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          (s"TxLog SQL DDL: unrecognized text in $stmt: " +
            s"'${residue.take(80)}'")))
  }

  /** `KEY_OPTIONS ('k' = 'v', ...)` quoted-pair lists (Databricks'
    * COPY INTO option syntax). */
  private[sql] def quotedOpts(tail: String, key: String): Map[String, String] =
    s"""(?is)\\b$key\\s*\\(((?:[^()']|'[^']*')*)\\)""".r.findFirstMatchIn(tail)
      .map(m => """'([^']*)'\s*=\s*'([^']*)'""".r.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2)).toMap)
      .getOrElse(Map.empty)

  // path as Delta's parquet.`/path` or a plain quoted '/path'
  private[sql] val ConvertRe =
    """(?is)\s*CONVERT\s+TO\s+GRAFT\s+(?:parquet\s*\.\s*`([^`]+)`|'([^']+)')(?:\s+PARTITIONED\s+BY\s*\((\w+)\s+([^)]+)\))?\s*;?\s*""".r
  // greedy (.*) takes the predicate to the LAST closing paren
  private[sql] val AlterAddCheckRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Id\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.*)\\)\\s*;?\\s*""".r
  private[sql] val AlterDropCheckRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Id\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*;?\\s*""".r
  private[sql] val AlterSetPropsRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Id\\s+SET\\s+TBLPROPERTIES\\s*\\((.*)\\)\\s*;?\\s*""".r
  private[sql] val AlterUnsetPropsRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$Id\\s+UNSET\\s+TBLPROPERTIES\\s+(?:(IF\\s+EXISTS)\\s+)?\\s*\\((.*)\\)\\s*;?\\s*""".r
  private[sql] val ShowTblPropsRe =
    s"""(?is)\\s*SHOW\\s+TBLPROPERTIES\\s+$Id(?:\\s*\\(\\s*'?([\\w.\\-]+)'?\\s*\\))?\\s*;?\\s*""".r

  // one `k = v` pair, either side quoted ('' escapes) or bare
  private val PropPairRe =
    """(?s)\s*(?:'((?:[^']|'')*)'|([\w.\-]+))\s*=\s*(?:'((?:[^']|'')*)'|([\w.\-]+))\s*""".r

  /** The `'k' = 'v', …` pairs of a SET TBLPROPERTIES list — commas
    * inside quoted values don't split (TxLogMaintenance.splitInList),
    * `''` unescapes, bare keys/values accepted like Spark's grammar. */
  private[sql] def propPairs(list: String): Seq[(String, String)] =
    TxLogMaintenance.splitInList(list).map {
      case PropPairRe(qk, bk, qv, bv) =>
        (Option(qk).map(_.replace("''", "'")).getOrElse(bk),
          Option(qv).map(_.replace("''", "'")).getOrElse(bv))
      case other => throw new AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"TxLog SQL DDL: malformed TBLPROPERTIES pair: $other"))
    }

  private[sql] val AnalyzeRe =
    s"""(?is)\\s*ANALYZE\\s+TABLE\\s+$Id\\s+COMPUTE\\s+STATISTICS(?:\\s+FOR\\s+(ALL\\s+COLUMNS|COLUMNS\\s+[\\w.,\\s]+))?\\s*;?\\s*""".r

  // a full TBLPROPERTIES (...) clause; parens inside quoted values OK
  private[sql] val TblPropsClauseRe =
    """(?is)\bTBLPROPERTIES\s*\(((?:[^()']|'[^']*')*)\)""".r

  private val ReservedPropKeys = Set("keys", "statsCols", "clustered_by")

  /** The USER properties of a CREATE tail's TBLPROPERTIES clause —
    * everything that is not a registration/layout key (`keys`,
    * `statsCols`, `clustered_by`, `constraint.*`); persisted via
    * [[TxLog.setProperties]] so SHOW CREATE TABLE output re-runs. */
  private[sql] def userProps(tail: String): Seq[(String, String)] =
    TblPropsClauseRe.findFirstMatchIn(tail)
      .map(m => propPairs(m.group(1))).getOrElse(Nil)
      .filterNot { case (k, _) =>
        ReservedPropKeys(k) || k.startsWith("constraint.") }

  /** The `'k', …` key list of an UNSET TBLPROPERTIES statement. */
  private[sql] def propKeys(list: String): Seq[String] =
    TxLogMaintenance.splitInList(list).map(k =>
      TxLogMaintenance.unquote(k).getOrElse(throw new AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"TxLog SQL DDL: malformed UNSET TBLPROPERTIES key: $k"))))

  private[sql] val DropTableRe =
    s"""(?is)\\s*DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?$Id\\s*;?\\s*""".r
  private[sql] val DescribeRe =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+(?:TABLE\\s+)?$Id\\s*;?\\s*""".r

  /** Comma-split value of `'key'='v1,v2'` inside the statement tail's
    * TBLPROPERTIES/OPTIONS clause (either quoting style). */
  private def propList(tail: String, key: String): Seq[String] =
    s"""(?is)'$key'\\s*(?:=\\s*)?'([^']*)'""".r.findFirstMatchIn(tail)
      .toSeq.flatMap(_.group(1).split(',').map(_.trim).filter(_.nonEmpty))
}

private object TxLogDdl {
  def fail(msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "INTERNAL_ERROR",
      messageParameters = Map("message" -> s"TxLog SQL DDL: $msg"))

  def rootOf(name: String): String =
    TxLogSql.lookupMeta(name).map(_._1).getOrElse(fail(
      s"'$name' is not a registered TxLog table"))

  /** Managed-table root under the session warehouse — where a CREATE
    * without LOCATION puts the log (CTAS, clone, and plain create all
    * share it). */
  def defaultRoot(session: SparkSession, name: String): String = {
    val wh = session.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:").stripSuffix("/")
    s"$wh/graft/${name.toLowerCase(java.util.Locale.ROOT).replace('.', '/')}"
  }

  /** Timestamp literal → epoch millis, the two Delta-accepted shapes:
    * `yyyy-MM-dd HH:mm:ss[.f]` and a bare `yyyy-MM-dd` (midnight).
    * Wall-clock text is interpreted in the SESSION timezone
    * (`spark.sql.session.timeZone`) — the same zone Spark's own
    * TIMESTAMP literals parse under, so `TIMESTAMP AS OF '…'` and
    * `TIMESTAMP AS OF TIMESTAMP'…'` resolve to the same instant (the
    * JVM-default-zone `java.sql` parse they replaced diverged from
    * the literal form whenever the two zones differed). Non-ISO
    * lenient shapes fall back to the legacy java.sql parse. */
  def tsMillis(lit: String): Long = {
    val s = lit.trim
    val zone = java.time.ZoneId.of(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    try {
      if (s.length <= 10)
        java.time.LocalDate.parse(s).atStartOfDay(zone).toInstant.toEpochMilli
      else java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .atZone(zone).toInstant.toEpochMilli
    } catch {
      case _: java.time.format.DateTimeParseException =>
        if (s.length <= 10) java.sql.Date.valueOf(s).getTime
        else java.sql.Timestamp.valueOf(s).getTime
    }
  }
}

/** `CREATE [OR REPLACE] TABLE … USING graft [AS SELECT …]`:
  * create-or-attach(-or-replace) + register. The schema (when given)
  * parses at run time with the session's own parser, so every Spark
  * column type works; a CTAS query runs through the session's full
  * SQL pipeline. OR REPLACE on an existing table overwrites THROUGH
  * the log — the replaced versions stay time-travelable (Delta's
  * CREATE OR REPLACE keeps table history). */
case class TxLogCreateTableCommand(name: String, colsDdl: Option[String],
                                   location: Option[String],
                                   keys: Seq[String], statsCols: Seq[String],
                                   ifNotExists: Boolean,
                                   orReplace: Boolean = false,
                                   asSelect: Option[String] = None,
                                   clusteredBy: Option[String] = None,
                                   props: Seq[(String, String)] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  /** Seed/replace write honoring the declared partitioning: tagged
    * manifests from day one, so partition-pruned merges and scoped
    * OPTIMIZE work on a purely-SQL-created table. */
  private def seed(t: TxLog, df: org.apache.spark.sql.DataFrame): Unit =
    clusteredBy.fold { t.overwrite(df); () } { pc =>
      if (!df.columns.contains(pc))
        TxLogDdl.fail(s"PARTITIONED BY column '$pc' is not in the schema " +
          s"(${df.columns.mkString(", ")})")
      t.overwritePartitioned(df, pc); ()
    }
  override def run(session: SparkSession): Seq[Row] = {
    if (colsDdl.nonEmpty && asSelect.nonEmpty)
      TxLogDdl.fail("a column list and AS SELECT are mutually exclusive — " +
        "CTAS takes its schema from the query")
    val root = location.getOrElse(TxLogDdl.defaultRoot(session, name))
    val t = TxLog(session, root, statsCols = statsCols)
    def queryDf = asSelect.map(q => session.sql(q))
    // TBLPROPERTIES bind only when THIS statement materializes the
    // table: a no-op branch (IF NOT EXISTS on an existing table, CTAS
    // no-op, bare-name attach) must leave the existing table's
    // metadata untouched — ANSI/Delta treat IF-NOT-EXISTS-on-existing
    // as a full no-op, and a replayed SHOW CREATE TABLE attach keeps
    // its properties because they are already committed, not because
    // the attach re-commits them
    var tableMaterialized = false
    if (t.exists()) {
      if (orReplace) {
        tableMaterialized = true
        // replace = overwrite through the log; schema comes from the
        // query (CTAS) or the declared column list
        val df = queryDf.orElse(
          colsDdl.map(c => session.createDataFrame(
            session.sparkContext.emptyRDD[Row],
            session.sessionState.sqlParser.parseTableSchema(c))))
          .getOrElse(TxLogDdl.fail(
            "CREATE OR REPLACE needs a column list or AS SELECT"))
        seed(t, df)
      } else if (asSelect.nonEmpty) {
        // CTAS on an existing table: IF NOT EXISTS makes it a no-op
        // (ANSI), otherwise it is an error
        if (!ifNotExists)
          TxLogDdl.fail(s"table at $root already exists — CTAS needs " +
            "OR REPLACE (or IF NOT EXISTS for a no-op)")
      } else {
        // attach semantics (Delta's external create over existing
        // data): a bare name attaches; a DECLARED schema over an
        // existing table needs IF NOT EXISTS and must match the stored
        if (!ifNotExists && colsDdl.nonEmpty)
          TxLogDdl.fail(s"table at $root already exists — attach with CREATE " +
            "TABLE IF NOT EXISTS, or omit the column list")
        colsDdl.map(session.sessionState.sqlParser.parseTableSchema).foreach { s =>
          val stored = t.snapshot().schema
          if (s.map(f => (f.name, f.dataType)) !=
              stored.map(f => (f.name, f.dataType)))
            TxLogDdl.fail(s"declared schema ${s.simpleString} does not match " +
              s"the stored schema ${stored.simpleString} at $root")
        }
      }
    } else {
      val df = queryDf.orElse(
        colsDdl.map(c => session.createDataFrame(
          session.sparkContext.emptyRDD[Row],
          session.sessionState.sqlParser.parseTableSchema(c))))
        .getOrElse(TxLogDdl.fail(
          s"no TxLog table at $root — creating one requires a column list or AS SELECT"))
      seed(t, df)
      tableMaterialized = true
    }
    // fresh create: commit the declared properties; OR REPLACE: commit
    // EXACTLY the declared set — a surviving property of the replaced
    // table (say an old graft.vacuum.retainVersions) must not silently
    // keep governing the new one (Delta: REPLACE resets configuration)
    if (tableMaterialized) {
      if (orReplace) t.replaceProperties(props)
      else if (props.nonEmpty) t.setProperties(props)
    } else if (props.nonEmpty) {
      // no-op branch (IF NOT EXISTS on existing / CTAS no-op / attach):
      // declared properties do NOT commit — but a declared value that
      // CONFLICTS with the stored one must fail loudly, never be
      // silently discarded (the user believes the configuration is in
      // effect; e.g. a declared ICT arm that isn't). A replayed
      // SHOW CREATE TABLE attach declares the committed values
      // verbatim and passes.
      // compare NORMALIZED declared values against the (normalized-at-
      // commit) stored ones: re-running the user's original DDL with
      // 'graft.inCommitTimestamps'='TRUE' against a table stored as
      // 'true' is a semantic no-op and must pass, not fail — the same
      // normalize-validate the real SET path applies (so a declared
      // INVALID value also fails here with the SET-time message)
      val stored = t.properties().toMap
      val conflicts = props.map { case (k, v) => t.normalizeProp(k, v) }
        .filter { case (k, v) => !stored.get(k).contains(v) }
      if (conflicts.nonEmpty)
        TxLogDdl.fail(s"table at $root already exists and this statement is a " +
          "no-op, but its declared TBLPROPERTIES differ from the stored ones: " +
          conflicts.map { case (k, v) =>
            s"$k='$v' (stored: ${stored.get(k).fold("<absent>")(s => s"'$s'")})"
          }.mkString(", ") +
          " — use ALTER TABLE … SET TBLPROPERTIES to change table configuration")
    }
    TxLogSql.register(name, t, keys)
    Seq.empty
  }
}

/** `RESTORE [TABLE] t TO VERSION AS OF n` / `TO TIMESTAMP AS OF 'ts'`
  * → [[TxLog.restoreTo]]: the target snapshot's manifest re-commits as
  * a NEW version — metadata-only, history preserved, writer txn marks
  * carried (Delta RESTORE). Returns (new_version, restored_version). */
case class TxLogRestoreCommand(name: String, target: Either[Long, String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("restored_version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = TxLogDdl.rootOf(name)
    val t = TxLog(session, root)
    val tv = target match {
      case Left(v)   => v
      case Right(ts) => t.versionAsOf(TxLogDdl.tsMillis(ts))
    }
    val nv = t.restoreTo(tv)
    Seq(Row(nv, tv))
  }
}

/** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]
  * [LOCATION '…']` → [[TxLog.shallowCloneTo]]: a zero-copy table whose
  * v0 references the source's data dirs by absolute path, then evolves
  * independently. The source's declared key columns carry to the clone
  * (same logical table shape). */
case class TxLogCloneCommand(dst: String, src: String, version: Option[Long],
                             location: Option[String], ifNotExists: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    val (srcRoot, srcKeys) = TxLogSql.lookupMeta(src).getOrElse(TxLogDdl.fail(
      s"'$src' is not a registered TxLog table"))
    val dstRoot = location.getOrElse(TxLogDdl.defaultRoot(session, dst))
    val dstT = TxLog(session, dstRoot)
    if (dstT.exists()) {
      if (!ifNotExists)
        TxLogDdl.fail(s"clone destination $dstRoot already exists")
    } else {
      TxLog(session, srcRoot).shallowCloneTo(dstRoot, version.getOrElse(-1L))
    }
    TxLogSql.register(dst, dstT, srcKeys)
    Seq.empty
  }
}

/** `CONVERT TO GRAFT parquet.`/path` [PARTITIONED BY (col TYPE)]` →
  * [[TxLog.convertFrom]]: in-place zero-rewrite import of an existing
  * parquet directory (Delta's CONVERT TO DELTA). The converted table
  * is addressed afterwards by attaching it:
  * `CREATE TABLE name USING graft LOCATION '/path'`. */
case class TxLogConvertCommand(path: String,
                               partitionedBy: Option[(String, String)])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(path, TxLog(session, path).convertFrom(partitionedBy)))
}

/** `COPY INTO t FROM '/path' FILEFORMAT = PARQUET|CSV|JSON
  * [PATTERN = 'glob'] [FORMAT_OPTIONS ('k'='v', …)]
  * [COPY_OPTIONS ('force'='true')]` → [[TxLog.copyInto]]: idempotent
  * file-granular ingestion; returns the committed version and the
  * number of files loaded (0 on an already-covered rerun). */
case class TxLogCopyIntoCommand(name: String, path: String, format: String,
                                pattern: Option[String],
                                options: Map[String, String], force: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_loaded", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = TxLogDdl.rootOf(name)
    val (v, n) = TxLog(session, root).copyInto(path, format,
      pattern.getOrElse("*"), options, force)
    Seq(Row(v, n))
  }
}

/** `ALTER TABLE t ADD COLUMNS (c1 T1, …)` → [[TxLog.addColumns]]:
  * additive schema evolution as an explicit statement (a footer-only
  * commit; existing rows read the new columns as null). */
case class TxLogAddColumnsCommand(name: String, colsDdl: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = TxLogDdl.rootOf(name)
    val v = TxLog(session, root).addColumns(
      session.sessionState.sqlParser.parseTableSchema(colsDdl))
    Seq(Row(v))
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` → [[TxLog.renameColumn]]
  * (column mapping — metadata-only, zero data rewritten). */
case class TxLogRenameColumnCommand(name: String, from: String, to: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = TxLogDdl.rootOf(name)
    val v = TxLog(session, root).renameColumn(from, to)
    Seq(Row(v))
  }
}

/** `ALTER TABLE t DROP COLUMN c` → [[TxLog.dropColumn]] (column
  * mapping — the entry disappears; bytes stay until a rewrite). */
case class TxLogDropColumnCommand(name: String, col: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = TxLogDdl.rootOf(name)
    val v = TxLog(session, root).dropColumn(col)
    Seq(Row(v))
  }
}

/** `SHOW CREATE TABLE t`: the re-runnable DDL — current schema,
  * `USING graft`, LOCATION, and TBLPROPERTIES carrying the declared
  * key columns, the cluster column, and every live CHECK constraint
  * (the Delta convention of surfacing constraints as properties). */
case class TxLogShowCreateCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("createtab_stmt", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (root, keys) = TxLogSql.lookupMeta(name).get
    val t = TxLog(session, root)
    val cols = t.snapshot().schema
      .map(f => s"  ${f.name} ${f.dataType.sql}").mkString(",\n")
    val props =
      (if (keys.nonEmpty) Seq(s"'keys' = '${keys.mkString(",")}'") else Nil) ++
      t.partitionColumn().map(pc => s"'clustered_by' = '$pc'").toSeq ++
      t.constraints().map { case (n, p) => s"'constraint.$n' = '$p'" } ++
      t.properties().map { case (k, v) =>
        s"'$k' = '${v.replace("'", "''")}'" }
    val propsClause =
      if (props.isEmpty) "" else props.mkString("\nTBLPROPERTIES (\n  ", ",\n  ", ")")
    Seq(Row(
      s"CREATE TABLE $name (\n$cols)\nUSING graft\nLOCATION '$root'$propsClause"))
  }
}

/** `DROP TABLE t` on a registered TxLog name: removes the SQL
  * registration; the transaction log and data stay on disk (external
  * -table semantics — Delta keeps data for unmanaged tables too; the
  * storage-reclaim path is VACUUM + filesystem removal). */
case class TxLogDropTableCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(session: SparkSession): Seq[Row] = {
    TxLogSql.unregister(name)
    Seq.empty
  }
}

/** `DESCRIBE [TABLE] t` on a registered TxLog name: the current
  * snapshot's columns plus the table's partition/cluster column as a
  * `# Partitioning` section — the v2 DESCRIBE shape. */
case class TxLogDescribeCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("col_name", StringType, nullable = false)(),
    AttributeReference("data_type", StringType, nullable = false)(),
    AttributeReference("comment", StringType, nullable = true)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxLog(session, TxLogDdl.rootOf(name))
    val cols = t.snapshot().schema.map(f =>
      Row(f.name, f.dataType.simpleString, null))
    cols ++ t.partitionColumn().toSeq.flatMap(pc => Seq(
      Row("# Partitioning", "", null), Row("part_0", pc, null)))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT n CHECK (p)` →
  * [[TxLog.addConstraint]]: existing data validated, then a
  * metadata-only commit binds every later writer. */
case class TxLogAddConstraintCommand(name: String, constraint: String,
                                     predicate: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog(session, TxLogDdl.rootOf(name))
      .addConstraint(constraint, predicate)))
}

/** `ALTER TABLE t DROP CONSTRAINT n` → [[TxLog.dropConstraint]]. */
case class TxLogDropConstraintCommand(name: String, constraint: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog(session, TxLogDdl.rootOf(name))
      .dropConstraint(constraint)))
}

/** `ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', …)` →
  * [[TxLog.setProperties]] — a metadata-only commit (idempotent when
  * nothing changes). Setting `graft.inCommitTimestamps = true` turns
  * on in-commit timestamps from this commit forward. */
case class TxLogSetPropertiesCommand(name: String, kvs: Seq[(String, String)])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog(session, TxLogDdl.rootOf(name)).setProperties(kvs)))
}

/** `ALTER TABLE t UNSET TBLPROPERTIES [IF EXISTS] ('k', …)` →
  * [[TxLog.unsetProperties]]. */
case class TxLogUnsetPropertiesCommand(name: String, keys: Seq[String],
                                       ifExists: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(TxLog(session, TxLogDdl.rootOf(name))
      .unsetProperties(keys, ifExists)))
}

/** `SHOW TBLPROPERTIES t [('key')]` — the persisted properties as
  * (key, value) rows sorted by key; the single-key form returns that
  * key's row alone.
  *
  * DELIBERATE divergence from Spark on an absent key: Spark's v2
  * command answers a single row whose VALUE cell is the English
  * message `Table … does not have property: <k>` — prose typed as
  * data, which a driver-side `.getString(1)` consumer will happily
  * treat as the property's value. This command fails loudly instead
  * (the same contract choice `table_changes` documents for its
  * inclusive starting bound): an absent key is an error the caller
  * must see, not a sentinel string to parse. Callers that want
  * probe-don't-throw semantics use the no-key form and filter. */
case class TxLogShowPropertiesCommand(name: String, key: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val props = TxLog(session, TxLogDdl.rootOf(name)).properties()
    key match {
      case Some(k) => props.find(_._1 == k)
        .map { case (a, b) => Seq(Row(a, b)) }
        .getOrElse(TxLogDdl.fail(s"table '$name' has no property '$k'"))
      case None => props.map { case (a, b) => Row(a, b) }
    }
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c1, … | FOR ALL
  * COLUMNS]` — table- and column-level statistics persisted as
  * `graft.stats.*` TABLE PROPERTIES (one metadata commit), the
  * lakehouse analogue of Spark's catalog stats: numRows + physical
  * size always; per named column exact ndv, null count, min/max
  * (rendered as strings; skipped when the rendering would break the
  * manifest line format), and — for numeric, DATE and TIMESTAMP
  * columns — a 32-bin equi-height HISTOGRAM (33 approx-percentile
  * endpoints, date/timestamp endpoints in internal epoch days/micros)
  * so range selectivity over skewed columns prices at the real mass
  * distribution. `graft.stats.version` records the snapshot
  * the scan saw, so STALENESS is first-class — a reader compares it
  * to the current version instead of trusting silently-old numbers.
  * COLUMN-PRESERVING like Spark's catalog: a pass `FOR COLUMNS c2`
  * keeps a prior pass's `c1` stats (each column carries its own
  * `graft.stats.col.<c>.version` for per-column staleness); only
  * stats of columns re-analyzed here, or since dropped/renamed, are
  * removed — and removal + fresh stats land in ONE metadata commit,
  * so no concurrent reader ever observes a stats-less window.
  * One distributed aggregation pass computes every requested column
  * (count-distinct expansion is Spark's standard multi-ndv shape); at
  * 100 TB the same statement is the nightly stats job, and the
  * metadata commit costs the same regardless of table size. */
case class TxLogAnalyzeCommand(name: String, cols: Seq[String],
                               allColumns: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min, unix_micros}
    val t = TxLog(session, TxLogDdl.rootOf(name))
    val v = t.currentVersion()
    val snap = t.snapshot(v)
    val targets = if (allColumns) snap.columns.toSeq else cols
    val missing = targets.filterNot(snap.columns.contains)
    if (missing.nonEmpty)
      TxLogDdl.fail(s"ANALYZE TABLE $name: no column(s) " +
        s"${missing.mkString(", ")} (have: ${snap.columns.mkString(", ")})")
    // TIMESTAMP min/max travel as epoch MICROS (session-tz-independent)
    // and are rendered driver-side in CatalogColumnStat's v2 external
    // format (UTC, 6-digit fraction) — a cast-to-string would render in
    // the session zone and trim fractions, and the stats CONSUMER
    // ([[graft.sql.TxLogCatalogStats]]) must hand the optimizer strings
    // its external-string parser is guaranteed to read back.
    val isTs = targets.map(c => c -> (snap.schema(c).dataType == TimestampType)).toMap
    // numeric, DATE and TIMESTAMP columns additionally persist an
    // EQUI-HEIGHT HISTOGRAM (33 approx-percentile endpoints → 32
    // bins): min/max alone price a range predicate over a SKEWED
    // column at the uniform fraction of [min, max], which can
    // over-estimate a selective filter by orders of magnitude and miss
    // a broadcast; the histogram hands Catalyst's FilterEstimation the
    // real mass distribution. Dates are the dominant skewed predicate
    // of this pipeline family (date-partitioned events gold, the
    // reference's watermark date surrogate), so they get the same
    // treatment: endpoints travel in Catalyst's INTERNAL units — epoch
    // DAYS for DATE, epoch MICROS for TIMESTAMP, both zone-free — the
    // exact axis the optimizer's estimation compares literals on. One
    // extra sketch per column, same single scan.
    val histExpr: Map[String, Option[org.apache.spark.sql.Column]] =
      targets.map(c => c -> (snap.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType =>
          Some(col(c).cast("double"))
        case DateType =>
          Some(org.apache.spark.sql.functions.unix_date(col(c)).cast("double"))
        case TimestampType => Some(unix_micros(col(c)).cast("double"))
        case _ => None
      })).toMap
    val histPcts = org.apache.spark.sql.functions.array(
      (0 to 32).map(i => lit(i / 32.0)): _*)
    val aggs = count(lit(1)).as("__n") +: targets.flatMap { c =>
      val (mn, mx) =
        if (isTs(c)) (unix_micros(min(col(c))), unix_micros(max(col(c))))
        else (min(col(c)), max(col(c)))
      Seq(countDistinct(col(c)).as(s"__ndv_$c"),
        count(col(c)).as(s"__nn_$c"),
        mn.cast("string").as(s"__min_$c"),
        mx.cast("string").as(s"__max_$c")) ++
        histExpr(c).map(h =>
          org.apache.spark.sql.functions.percentile_approx(
            h, histPcts, lit(10000)).as(s"__hist_$c"))
    }
    val r = snap.agg(aggs.head, aggs.tail: _*).head()
    val nRows = r.getAs[Long]("__n")
    val tsExternal = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
    def render(c: String, s: String): String =
      if (s == null || !isTs(c)) s
      else tsExternal.format(java.time.Instant.EPOCH.plus(
        s.toLong, java.time.temporal.ChronoUnit.MICROS))
    def clean(s: String): Option[String] =
      Option(s).filterNot(_.exists("\t\n\r".contains(_)))
    val colProps = targets.flatMap { c =>
      Seq(s"graft.stats.col.$c.ndv" -> r.getAs[Long](s"__ndv_$c").toString,
        s"graft.stats.col.$c.nulls" ->
          (nRows - r.getAs[Long](s"__nn_$c")).toString,
        // per-column snapshot version: column stats SURVIVE later
        // passes over other columns (Spark's catalog contract), so
        // each column records the snapshot ITS stats saw — staleness
        // is judged per column, not from the table-level
        // graft.stats.version this pass refreshes
        s"graft.stats.col.$c.version" -> v.toString) ++
        clean(render(c, r.getAs[String](s"__min_$c")))
          .map(s"graft.stats.col.$c.min" -> _) ++
        clean(render(c, r.getAs[String](s"__max_$c")))
          .map(s"graft.stats.col.$c.max" -> _) ++
        (if (histExpr(c).isDefined)
          Option(r.getAs[scala.collection.Seq[Double]](s"__hist_$c"))
            .filter(es => es.length == 33 &&
              es.forall(e => !e.isNaN && !e.isInfinite))
            .map(es => s"graft.stats.col.$c.hist" -> es.mkString(","))
        else None)
    }
    val (nFiles, bytes) = t.detailStats()
    val fresh = Seq(
      "graft.stats.numRows" -> nRows.toString,
      "graft.stats.numFiles" -> nFiles.toString,
      "graft.stats.sizeInBytes" -> bytes.toString,
      "graft.stats.version" -> v.toString) ++ colProps
    // COLUMN-PRESERVING refresh (Spark's catalog keeps other columns'
    // stats across ANALYZE passes): a prior pass's column stats survive
    // unless that column no longer exists in the snapshot — stats of
    // since-renamed/dropped columns must not outlive this pass, they
    // would read as current. Removal and fresh stats land in ONE
    // metadata commit: a two-commit unset+set exposed a window where a
    // concurrent reader saw a table with NO stats at all (and a crash
    // between the commits lost them), and burned two log versions per
    // nightly ANALYZE.
    val liveColPrefixes = snap.columns.map(c => s"graft.stats.col.$c.").toSet
    val passPrefixes = targets.map(c => s"graft.stats.col.$c.").toSet
    val stale = t.properties().map(_._1)
      .filter(_.startsWith("graft.stats."))
      .filterNot(fresh.map(_._1).toSet)
      .filter { k =>
        !k.startsWith("graft.stats.col.") || // table-level leftover key
          !liveColPrefixes.exists(k.startsWith) || // dropped/renamed col
          passPrefixes.exists(k.startsWith) // superseded by THIS pass
      }
    t.updateProperties(fresh, stale,
      op = s"ANALYZE (${targets.sorted.mkString(", ")})")
    Seq(Row(t.currentVersion()))
  }
}

/** `DESCRIBE HISTORY t` → [[TxLog.history]] rows, newest first. */
case class TxLogHistoryCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp", TimestampType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("n_dirs", IntegerType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    TxLog(session, TxLogDdl.rootOf(name)).history().collect().toSeq
}

/** `VACUUM t [RETAIN n VERSIONS] [DRY RUN]` → [[TxLog.vacuum]] /
  * [[TxLog.vacuumPlan]]; the real pass returns the table path like
  * Delta's VACUUM, DRY RUN returns one row per path that would be
  * deleted and touches nothing. A statement without RETAIN uses the
  * table's `graft.vacuum.retainVersions` property when set (Delta's
  * `delta.deletedFileRetentionDuration` pattern — retention policy is
  * TABLE metadata, not a per-statement guess), else 3. */
case class TxLogVacuumCommand(name: String, retainVersions: Option[Int],
                              dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = TxLogDdl.rootOf(name)
    val t = TxLog(session, root)
    val keepVersions = retainVersions.orElse(
      t.properties().toMap.get(TxLog.VacuumRetainProp).map { v =>
        require(v.forall(_.isDigit) && v.nonEmpty && v.toInt > 0,
          s"table property ${TxLog.VacuumRetainProp} must be a positive " +
            s"integer, got '$v'")
        v.toInt
      }).getOrElse(3)
    if (dryRun) t.vacuumPlan(keepVersions).map(Row(_))
    else {
      t.vacuum(keepVersions = keepVersions)
      Seq(Row(root))
    }
  }
}

/** `SHOW PARTITIONS t` → the tagged table's distinct partition values
  * as Spark-style `col=value` rows, answered from the manifest. */
case class TxLogShowPartitionsCommand(name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = TxLog(session, TxLogDdl.rootOf(name))
    val pc = t.partitionColumn().getOrElse(throw new AnalysisException(
      errorClass = "INTERNAL_ERROR",
      messageParameters = Map("message" ->
        s"SHOW PARTITIONS: graft table '$name' is not partitioned")))
    t.partitionValues().map(v => Row(s"$pc=$v"))
  }
}

/** `DESCRIBE DETAIL t` (Delta parity) — one row of physical table
  * metadata: format, location, current version, live file count and
  * bytes (driver-side listing of the snapshot's dirs), partition and
  * constraint metadata. */
case class TxLogDescribeDetailCommand(name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numFiles", LongType, nullable = false)(),
    AttributeReference("sizeInBytes", LongType, nullable = false)(),
    AttributeReference("partitionColumns", StringType, nullable = false)(),
    AttributeReference("numConstraints", IntegerType, nullable = false)(),
    AttributeReference("numDeletionVectors", LongType, nullable = false)(),
    AttributeReference("properties", StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = TxLogDdl.rootOf(name)
    val t = TxLog(session, root)
    val (nFiles, bytes) = t.detailStats()
    Seq(Row("graft", root, t.currentVersion(), nFiles, bytes,
      t.partitionColumn().getOrElse(""), t.constraints().size,
      t.deletionVectorCount(),
      t.properties().map { case (k, v) => s"$k=$v" }
        .mkString("[", ", ", "]")))
  }
}

/** `OPTIMIZE t [WHERE partcol = 'v' | partcol IN ('v', …)] [ZORDER BY
  * (c1, …)]` → bin-packing compaction ([[TxLog.compactSmallFiles]],
  * Delta's OPTIMIZE — WHERE scopes the pass to the named partitions,
  * Delta's partition-predicate form) or a z-order rewrite into 32 dirs
  * ([[TxLog.compactZOrder]]; one column ranges on that column); returns
  * the committed version. Both rewrite inside the table's commit loop,
  * so a concurrent INSERT is never lost. WHERE accepts only the table's
  * partition column (Delta refuses non-partition predicates the same
  * way) and cannot combine with ZORDER BY (z-order is a table-wide
  * re-clustering — the graft layout supports one physical clustering
  * per table). */
case class TxLogOptimizeCommand(name: String, zorderCols: Seq[String],
                                where: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = TxLogDdl.rootOf(name)
    require(where.isEmpty || zorderCols.isEmpty,
      "OPTIMIZE WHERE cannot combine with ZORDER BY: z-order re-clusters the whole table")
    val parts = TxLogMaintenance.partitionScope(session, root, where, "OPTIMIZE")
    val v =
      if (zorderCols.nonEmpty)
        TxLog(session, root, statsCols = zorderCols)
          .compactZOrder(zorderCols, nBuckets = 32)
      else TxLog(session, root).compactSmallFiles(TxLog.TargetFileBytes, parts)
    Seq(Row(v))
  }
}

/** The partition-predicate scope OPTIMIZE WHERE / REORG WHERE accept:
  * `<partcol> = 'v'` or `<partcol> IN ('v', …)` over the table's
  * partition column only (Delta refuses non-partition predicates the
  * same way). */
object TxLogMaintenance {

  private val QuotedVal = """'((?:[^']|'')*)'""".r
  private val BareVal = """[^\s',()]+""".r

  /** `'v'` → `v` (with `''` unescaped to `'`); a bare literal passes
    * through as written — partition tags are the cast-to-string form,
    * so `p = 5` and `p = '5'` name the same partition. None for
    * anything that is neither one full quoted string nor one bare
    * token (e.g. a compound `'a' AND q = 'b'` swallowed by the greedy
    * RHS capture) — the caller reports the unsupported shape. */
  private[sql] def unquote(v0: String): Option[String] = v0.trim match {
    case QuotedVal(inner) => Some(inner.replace("''", "'"))
    case v @ BareVal() => Some(v)
    case _ => None
  }

  /** Quote-aware IN-list tokenization: commas INSIDE single-quoted
    * values ('a,b') and escaped quotes ('it''s') don't split — the
    * naive split(',') mis-parsed both. */
  private[sql] def splitInList(list: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < list.length) {
      val ch = list.charAt(i)
      if (ch == '\'') { inQuote = !inQuote; cur.append(ch) }
      else if (ch == ',' && !inQuote) { out += cur.result(); cur.clear() }
      else cur.append(ch)
      i += 1
    }
    out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  def partitionScope(session: SparkSession, root: String,
                     where: Option[String], stmt: String): Seq[String] =
    where.toSeq.flatMap { w =>
      def unsupported: Nothing = throw new IllegalArgumentException(
        s"$stmt WHERE supports only <partcol> = <v> or <partcol> IN (<v>, ...), " +
          s"values quoted or bare: got '$w'")
      val (c, vs) = w match {
        case GraftSqlParser.WhereInRe(c0, list) =>
          (c0, splitInList(list).map(v => unquote(v).getOrElse(unsupported)))
        case GraftSqlParser.WhereEqRe(c0, v0) =>
          (c0, Seq(unquote(v0).getOrElse(unsupported)))
        case _ => unsupported
      }
      val pc = TxLog(session, root).partitionColumn()
      require(pc.contains(c),
        s"$stmt WHERE must reference the table's partition column " +
          s"(${pc.getOrElse("none — table is not partitioned")}), got '$c'")
      vs
    }
}

/** `REORG TABLE t [WHERE partcol = 'v' | partcol IN ('v', …)] APPLY
  * (PURGE)` → [[TxLog.purgeDeletes]] — Delta's REORG … APPLY (PURGE):
  * rewrite ONLY the deletion-vector debt (tombstoned dirs
  * materialize their survivors; clean dirs untouched), returning the
  * committed version (unchanged when the table carries no DVs). */
case class TxLogReorgCommand(name: String, where: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val root = TxLogDdl.rootOf(name)
    val parts = TxLogMaintenance.partitionScope(session, root, where, "REORG")
    val v = TxLog(session, root).purgeDeletes(parts)
    Seq(Row(v))
  }
}
