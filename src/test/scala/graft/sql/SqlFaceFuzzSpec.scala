package graft.sql

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import scala.util.Random

/** Property-fuzz of the hand-rolled SQL faces (`GraftSqlParser` and
  * its helper parsers): randomized identifier shapes, keyword casing,
  * whitespace, quoting and escapes must all PARSE to exactly the
  * declared command fields — and near-miss statements (one keyword
  * letter off) must parse-or-loudly-reject, NEVER mis-parse into a
  * graft command with different fields. Fixed seeds — deterministic. */
class SqlFaceFuzzSpec extends SparkTestBase {
  import GraftSqlParser._

  private lazy val parser = new GraftSqlParser(
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser)

  // ---- statement generator: tagged tokens -------------------------------
  // K = a grammar keyword (case-randomized when rendering, the mutation
  // target), T = verbatim text (identifiers, literals, punctuation)
  private sealed trait Tok
  private case class K(s: String) extends Tok
  private case class T(s: String) extends Tok

  private def randCase(s: String, rnd: Random): String =
    s.map(c => if (rnd.nextBoolean()) c.toUpper else c.toLower).mkString

  private def ws(rnd: Random): String =
    Seq(" ", "  ", "\t", " \n ", "   ")(rnd.nextInt(5))

  private def render(toks: Seq[Tok], rnd: Random): String =
    toks.map {
      case K(s) => randCase(s, rnd)
      case T(s) => s
    }.mkString(ws(rnd), ws(rnd), if (rnd.nextBoolean()) ";" else "")

  /** A random dotted identifier that cannot collide with a keyword. */
  private def ident(rnd: Random): String = {
    def seg = "x" + rnd.nextInt(1000) + "_" +
      Seq("tbl", "gold", "Fact", "DIM")(rnd.nextInt(4))
    if (rnd.nextBoolean()) seg else s"$seg.$seg"
  }

  /** One single-character mutation of a random KEYWORD token: delete,
    * replace with a different letter, or swap two distinct adjacent
    * letters — each produces a different spelling, so a graft command
    * coming back from the mutant is by definition a mis-parse. */
  private def mutate(toks: Seq[Tok], rnd: Random): Option[Seq[Tok]] = {
    val kIdx = toks.zipWithIndex.collect { case (K(s), i) if s.length > 1 => i }
    if (kIdx.isEmpty) return None
    val i = kIdx(rnd.nextInt(kIdx.size))
    val s = toks(i).asInstanceOf[K].s
    val p = rnd.nextInt(s.length)
    val mutated = rnd.nextInt(3) match {
      case 0 => s.substring(0, p) + s.substring(p + 1) // delete
      case 1 => // replace with a different letter
        val c = (('a' to 'z').filterNot(_.toLower == s(p).toLower))(rnd.nextInt(25))
        s.updated(p, c)
      case _ => // swap adjacent distinct
        if (p + 1 >= s.length || s(p).toLower == s(p + 1).toLower)
          s.substring(0, p) + s.substring(p + 1) // fall back to delete
        else s.substring(0, p) + s(p + 1) + s(p) + s.substring(p + 2)
    }
    if (mutated.equalsIgnoreCase(s)) None else Some(toks.updated(i, K(mutated)))
  }

  private def isGraft(p: LogicalPlan): Boolean =
    p.getClass.getSimpleName.startsWith("TxLog")

  // ---- shape round-trips -------------------------------------------------

  test("fuzz: DESCRIBE HISTORY / VACUUM / OPTIMIZE / REORG / RESTORE round-trip exact fields") {
    val rnd = new Random(1914)
    (1 to 120).foreach { trial =>
      val id = ident(rnd)
      val (toks, check): (Seq[Tok], LogicalPlan => Unit) = rnd.nextInt(6) match {
        case 0 =>
          (Seq(K(if (rnd.nextBoolean()) "DESCRIBE" else "DESC"), K("HISTORY"), T(id)),
            p => assert(p === TxLogHistoryCommand(id)))
        case 1 =>
          val retain = if (rnd.nextBoolean()) Some(1 + rnd.nextInt(999)) else None
          val dry = rnd.nextBoolean()
          (Seq(K("VACUUM"), T(id)) ++
            retain.toSeq.flatMap(n => Seq(K("RETAIN"), T(n.toString), K("VERSIONS"))) ++
            (if (dry) Seq(K("DRY"), K("RUN")) else Nil),
            p => assert(p === TxLogVacuumCommand(id, retain, dry)))
        case 2 =>
          val zcols = if (rnd.nextBoolean()) Seq("c1", "c_" + rnd.nextInt(99)) else Nil
          (Seq(K("OPTIMIZE"), T(id)) ++
            (if (zcols.nonEmpty)
              Seq(K("ZORDER"), K("BY"), T(zcols.mkString("(", ", ", ")")))
            else Nil),
            p => assert(p === TxLogOptimizeCommand(id, zcols, None)))
        case 3 =>
          (Seq(K("REORG"), K("TABLE"), T(id), K("APPLY"), T("("), K("PURGE"), T(")")),
            p => assert(p === TxLogReorgCommand(id, None)))
        case 4 =>
          val v = rnd.nextInt(100000)
          (Seq(K("RESTORE")) ++ (if (rnd.nextBoolean()) Seq(K("TABLE")) else Nil) ++
            Seq(T(id), K("TO"), K("VERSION"), K("AS"), K("OF"), T(v.toString)),
            p => assert(p === TxLogRestoreCommand(id, Left(v.toLong))))
        case _ =>
          val ts = s"2024-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(9)} 08:30:00"
          (Seq(K("RESTORE")) ++ (if (rnd.nextBoolean()) Seq(K("TABLE")) else Nil) ++
            Seq(T(id), K("TO"), K("TIMESTAMP"), K("AS"), K("OF"), T(s"'$ts'")),
            p => assert(p === TxLogRestoreCommand(id, Right(ts))))
      }
      val sql = render(toks, rnd)
      check(parser.parsePlan(sql))
      // near-miss: one keyword letter off must never come back as a
      // graft command — either the delegate parses it as ITS OWN plan
      // or someone throws; both are "loud", a graft command is not
      mutate(toks, rnd).foreach { m =>
        val msql = render(m, rnd)
        val r = scala.util.Try(parser.parsePlan(msql))
        assert(!r.toOption.exists(isGraft),
          s"trial $trial: near-miss parsed as a graft command:\n  $msql\n  -> ${r.toOption}")
      }
    }
  }

  test("fuzz: CREATE TABLE USING graft round-trips name/flags/keys/props/location") {
    val rnd = new Random(2718)
    (1 to 80).foreach { trial =>
      val id = ident(rnd)
      val ifNot = rnd.nextBoolean()
      val loc = s"$scratchRoot/fuzz_${rnd.nextInt(1 << 20)}"
      val keys = if (rnd.nextBoolean()) Seq("id") else Seq("id", "seg")
      val owner = s"team-${rnd.nextInt(100)}"
      val toks =
        Seq(K("CREATE"), K("TABLE")) ++
          (if (ifNot) Seq(K("IF"), K("NOT"), K("EXISTS")) else Nil) ++
          Seq(T(id), T("(id BIGINT, seg STRING)"), K("USING"), K("graft"),
            K("TBLPROPERTIES"),
            T(s"('keys' = '${keys.mkString(",")}', 'owner' = '$owner')"),
            K("LOCATION"), T(s"'$loc'"))
      val sql = render(toks, rnd)
      parser.parsePlan(sql) match {
        case c: TxLogCreateTableCommand =>
          assert(c.name === id, sql)
          assert(c.ifNotExists === ifNot, sql)
          assert(c.keys === keys, sql)
          assert(c.props === Seq("owner" -> owner), sql)
          assert(c.location === Some(loc), sql)
          assert(c.colsDdl.exists(_.contains("BIGINT")), sql)
        case other => fail(s"trial $trial: $sql parsed to $other")
      }
      // near-miss keyword: loud reject or a non-graft plan, never a
      // graft command (a typo'd TBLPROPERTIES silently parsing as a
      // table with NO properties would be the classic mis-parse)
      mutate(toks, rnd).foreach { m =>
        val msql = render(m, rnd)
        val r = scala.util.Try(parser.parsePlan(msql))
        assert(!r.toOption.exists(isGraft),
          s"trial $trial: near-miss parsed as a graft command:\n  $msql\n  -> ${r.toOption}")
      }
    }
  }

  test("fuzz: CONVERT / COPY INTO / SHALLOW CLONE round-trip exact fields") {
    val rnd = new Random(8128)
    (1 to 90).foreach { trial =>
      val id = ident(rnd)
      val path = s"$scratchRoot/fz_${rnd.nextInt(1 << 20)}"
      val (toks, check): (Seq[Tok], LogicalPlan => Unit) = rnd.nextInt(4) match {
        case 0 =>
          val pb = if (rnd.nextBoolean()) Some(("day", "DATE")) else None
          (Seq(K("CONVERT"), K("TO"), K("GRAFT"),
            T(if (rnd.nextBoolean()) s"parquet.`$path`" else s"'$path'")) ++
            pb.toSeq.flatMap { case (c, ty) =>
              Seq(K("PARTITIONED"), K("BY"), T(s"($c $ty)")) },
            p => assert(p === TxLogConvertCommand(path, pb)))
        case 1 =>
          val pat = if (rnd.nextBoolean()) Some(s"*_${rnd.nextInt(9)}.parquet") else None
          val force = rnd.nextBoolean()
          (Seq(K("COPY"), K("INTO"), T(id), K("FROM"), T(s"'$path'"),
            K("FILEFORMAT"), T("="), K("PARQUET")) ++
            pat.toSeq.flatMap(s => Seq(K("PATTERN"), T(s"= '$s'"))) ++
            (if (force) Seq(K("COPY_OPTIONS"), T("('force' = 'true')")) else Nil),
            p => assert(p === TxLogCopyIntoCommand(id, path, "parquet", pat,
              Map.empty, force)))
        case 2 =>
          val ifNot = rnd.nextBoolean()
          val ver = if (rnd.nextBoolean()) Some(rnd.nextInt(9999).toLong) else None
          val src = ident(rnd)
          (Seq(K("CREATE"), K("TABLE")) ++
            (if (ifNot) Seq(K("IF"), K("NOT"), K("EXISTS")) else Nil) ++
            Seq(T(id), K("SHALLOW"), K("CLONE"), T(src)) ++
            ver.toSeq.flatMap(v =>
              Seq(K("VERSION"), K("AS"), K("OF"), T(v.toString))) ++
            Seq(K("LOCATION"), T(s"'$path'")),
            p => assert(p === TxLogCloneCommand(id, src, ver, Some(path), ifNot)))
        case _ =>
          val fmt = Seq("PARQUET", "CSV", "JSON")(rnd.nextInt(3))
          (Seq(K("COPY"), K("INTO"), T(id), K("FROM"), T(s"'$path'"),
            K("FILEFORMAT"), T("="), K(fmt),
            K("FORMAT_OPTIONS"), T("('header' = 'true')")),
            p => assert(p === TxLogCopyIntoCommand(id, path,
              fmt.toLowerCase(java.util.Locale.ROOT), None,
              Map("header" -> "true"), force = false)))
      }
      val sql = render(toks, rnd)
      check(parser.parsePlan(sql))
      mutate(toks, rnd).foreach { m =>
        val msql = render(m, rnd)
        val r = scala.util.Try(parser.parsePlan(msql))
        assert(!r.toOption.exists(isGraft),
          s"trial $trial: near-miss parsed as a graft command:\n  $msql\n  -> ${r.toOption}")
      }
    }
  }

  test("fuzz: TBLPROPERTIES pair lists round-trip quoting, '' escapes, commas, equals") {
    val rnd = new Random(31415)
    val charPool = "abcXYZ 09_.-,='()|&é"
    def randVal(): String =
      (0 until rnd.nextInt(12)).map(_ => charPool(rnd.nextInt(charPool.length))).mkString
    (1 to 300).foreach { trial =>
      val pairs = (0 to rnd.nextInt(4)).map(i => (s"k$i." + randVal().filter(c =>
        c.isLetterOrDigit || c == '.' || c == '-'), randVal()))
      val rendered = pairs.map { case (k, v) =>
        s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'"
      }.mkString(" , ")
      assert(propPairs(rendered) === pairs, s"trial $trial: [$rendered]")
    }
    // malformed pairs reject loudly, never mis-bind
    Seq("'k' = ", "= 'v'", "'k' 'v'", "'k' == 'v'", "'unclosed = 'v'").foreach { bad =>
      assert(scala.util.Try(propPairs(bad)).isFailure ||
        scala.util.Try(propPairs(bad)).toOption.exists(_.isEmpty), bad)
    }
  }

  test("fuzz: statement-tail garbage is rejected loudly, never silently swallowed") {
    val rnd = new Random(1618)
    // a typo'd clause keyword inside a permissive (.*) tail must FAIL
    // the statement, not parse to a command that ignores the clause
    val bads = Seq(
      "CREATE TABLE t_ft (id BIGINT) USING graft TBLPROPERTIE ('keys' = 'id')",
      "CREATE TABLE t_ft (id BIGINT) USING graft LOCATIONS '/tmp/x'",
      "CREATE TABLE t_ft (id BIGINT) USING graft COMMENT 'nope'",
      "CREATE TABLE t_ft SHALLOW CLONE t_src LOCATIN '/tmp/x'",
      "COPY INTO t_ft FROM '/tmp/x' FILEFORMAT = PARQUET PATERN = '*.pq'",
      "COPY INTO t_ft FROM '/tmp/x' FILEFORMAT = PARQUET FORCE")
    bads.foreach { bad =>
      val r = scala.util.Try(parser.parsePlan(bad))
      assert(r.isFailure,
        s"tail garbage silently accepted: $bad -> ${r.toOption}")
    }
    // while the clean forms (random casing/whitespace) still parse
    (1 to 20).foreach { _ =>
      val toks = Seq(K("CREATE"), K("TABLE"), T("t_ft"), T("(id BIGINT)"),
        K("USING"), K("graft"), K("TBLPROPERTIES"), T("('keys' = 'id')"),
        K("LOCATION"), T("'/tmp/x'"))
      assert(isGraft(parser.parsePlan(render(toks, rnd))))
    }
  }

  test("fuzz: backticked identifiers (embedded dots/spaces/keywords) NEVER bind a graft command") {
    // the face's declared scope is dotted BARE names; backticked names
    // belong to the delegate. The hazard is a half-match: a regex that
    // binds `x.y z` as table "x.y" and leaves " z`" to a permissive
    // tail would silently run a graft command against the wrong table.
    val rnd = new Random(4242)
    def btIdent(): String = {
      val inner = Seq(
        s"dim ${rnd.nextInt(99)}",        // embedded space
        s"a.b.${rnd.nextInt(99)}",        // embedded dots
        s"select ${rnd.nextInt(9)}",      // an embedded KEYWORD
        s"x-${rnd.nextInt(99)}")(rnd.nextInt(4))
      s"`$inner`"
    }
    (1 to 80).foreach { trial =>
      val id = btIdent()
      val toks = rnd.nextInt(5) match {
        case 0 => Seq(K("DESCRIBE"), K("HISTORY"), T(id))
        case 1 => Seq(K("VACUUM"), T(id), K("RETAIN"), T("7"), K("VERSIONS"))
        case 2 => Seq(K("OPTIMIZE"), T(id))
        case 3 => Seq(K("RESTORE"), K("TABLE"), T(id),
          K("TO"), K("VERSION"), K("AS"), K("OF"), T("3"))
        case _ => Seq(K("COPY"), K("INTO"), T(id), K("FROM"), T("'/tmp/x'"),
          K("FILEFORMAT"), T("="), K("PARQUET"))
      }
      val sql = render(toks, rnd)
      val r = scala.util.Try(parser.parsePlan(sql))
      assert(!r.toOption.exists(isGraft),
        s"trial $trial: backticked identifier bound a graft command:\n  $sql\n  -> ${r.toOption}")
    }
  }

  test("fuzz: escaped quotes in string literals round-trip in props and reject loudly in paths") {
    val rnd = new Random(5050)
    // TBLPROPERTIES values with '' escapes (plus commas/parens/equals)
    // must round-trip through the FULL parser, unescaped — not just
    // the propPairs helper
    (1 to 60).foreach { trial =>
      val v = Seq("it''s", "a''b''c", "x,(y)=z''", "''lead", "trail''")(rnd.nextInt(5))
      val expected = v.replace("''", "'")
      val loc = s"$scratchRoot/fz_esc_${rnd.nextInt(1 << 20)}"
      val sql = render(Seq(K("CREATE"), K("TABLE"), T(s"t_esc$trial"),
        T("(id BIGINT)"), K("USING"), K("graft"),
        K("TBLPROPERTIES"), T(s"('note' = '$v', 'keys' = 'id')"),
        K("LOCATION"), T(s"'$loc'")), rnd)
      parser.parsePlan(sql) match {
        case c: TxLogCreateTableCommand =>
          assert(c.props === Seq("note" -> expected), sql)
        case other => fail(s"trial $trial: $sql parsed to $other")
      }
    }
    // a quote inside a PATH literal is outside the grammar ('' is not
    // an escape there): the statement must reject LOUDLY — the
    // truncated-literal residue trips requireCleanTail — never bind a
    // command against the truncated path
    Seq(
      "CREATE TABLE t_q (id BIGINT) USING graft LOCATION '/tmp/a''b'",
      "COPY INTO t_q FROM '/tmp/a''b' FILEFORMAT = PARQUET").foreach { bad =>
      val r = scala.util.Try(parser.parsePlan(bad))
      assert(r.isFailure || !r.toOption.exists(isGraft),
        s"quote-bearing path bound a graft command: $bad -> ${r.toOption}")
    }
  }

  test("fuzz: unicode whitespace never yields a mis-bound graft command") {
    // NBSP, ideographic space, zero-width space between tokens: the
    // faces tokenize on ASCII \\s, so these either fall through to the
    // delegate (its own plan or a loud parse error) or — where a
    // regex still matches — must bind the EXACT declared fields. What
    // they must never do is half-match into a command with different
    // fields.
    val rnd = new Random(6060)
    val uws = Seq(" ", "　", "​", " ")
    (1 to 60).foreach { trial =>
      val id = ident(rnd)
      val sep = uws(rnd.nextInt(uws.size))
      val sql = s"VACUUM$sep$id${sep}RETAIN 5 VERSIONS"
      scala.util.Try(parser.parsePlan(sql)).toOption.filter(isGraft).foreach {
        case TxLogVacuumCommand(n, retain, dry) =>
          assert(n === id && retain === Some(5) && !dry,
            s"trial $trial: unicode ws mis-bound fields: $sql")
        case other => fail(s"trial $trial: unexpected graft bind $other for: $sql")
      }
      // and embedded INSIDE an identifier it must never silently become
      // part of the table name a command acts on
      val sqlIn = s"DESCRIBE HISTORY x$sep$id"
      scala.util.Try(parser.parsePlan(sqlIn)).toOption.filter(isGraft).foreach {
        case TxLogHistoryCommand(n) =>
          assert(n == "x" || n == s"x$sep$id",
            s"trial $trial: unicode ws spliced identifiers: $sqlIn -> $n")
        case other => fail(s"unexpected graft bind $other for: $sqlIn")
      }
    }
  }

  // ---- MERGE clause-grammar fuzz (r15 item 5 / r16 item 2) ---------------
  // The clause surface (WHEN MATCHED [AND] UPDATE/DELETE, NOT MATCHED
  // [BY SOURCE], SCHEMA EVOLUTION) is the largest DML grammar routed
  // through TxLogSqlDml. Random legal clause sequences must produce
  // IDENTICAL tables through the SQL face and the library face
  // (TxLog.mergeInto), both equal to an independent driver-side
  // first-passing-clause-wins fold; near-legal sequences must reject
  // loudly with the table untouched — never a silent wrong commit.

  private case class MCl(condSql: Option[String],
                         fires: ((String, Long), (String, Long)) => Boolean,
                         sqlAction: String,
                         lib: graft.pipeline.MergeInto.When,
                         apply: ((String, Long), (String, Long)) => Option[(String, Long)])
  private case class ICl(condSql: Option[String],
                         fires: ((Long, String, Long)) => Boolean,
                         sqlAction: String,
                         lib: graft.pipeline.MergeInto.When,
                         apply: ((Long, String, Long)) => (String, Long))
  private case class NCl(condSql: Option[String],
                         fires: ((String, Long)) => Boolean,
                         sqlAction: String,
                         lib: graft.pipeline.MergeInto.When,
                         apply: ((String, Long)) => Option[(String, Long)])

  test("fuzz: MERGE clause sequences — SQL face = library face = driver model, first passing clause wins") {
    import graft.pipeline.{MergeInto => M, TxLog}
    import spark.implicits._
    val rnd = new Random(7919)

    // condition pools per clause family (each references only the row
    // halves that family can see), paired with exact Scala evaluators
    val mConds: Seq[(String, ((String, Long), (String, Long)) => Boolean)] = Seq(
      ("s.amt >= 100", (_, s) => s._2 >= 100),
      ("t.amt < 25", (t, _) => t._2 < 25),
      ("s.amt % 2 = 0", (_, s) => s._2 % 2 == 0),
      ("t.amt + s.amt > 120", (t, s) => t._2 + s._2 > 120))
    val iConds: Seq[(String, ((Long, String, Long)) => Boolean)] = Seq(
      ("s.amt > 50", s => s._3 > 50),
      ("s.k % 2 = 0", s => s._1 % 2 == 0))
    val nConds: Seq[(String, ((String, Long)) => Boolean)] = Seq(
      ("t.amt >= 30", t => t._2 >= 30),
      ("t.amt % 20 = 0", t => t._2 % 20 == 0))

    val mActs: Seq[(String, M.Action, ((String, Long), (String, Long)) => Option[(String, Long)])] = Seq(
      ("UPDATE SET *", M.UpdateAll, (_, s) => Some(s)),
      ("UPDATE SET v = s.v", M.Update(Seq("v" -> "s.v")), (t, s) => Some((s._1, t._2))),
      ("UPDATE SET amt = t.amt + s.amt", M.Update(Seq("amt" -> "t.amt + s.amt")),
        (t, s) => Some((t._1, t._2 + s._2))),
      ("DELETE", M.Delete, (_, _) => None))
    val iActs: Seq[(String, M.Action, ((Long, String, Long)) => (String, Long))] = Seq(
      ("INSERT *", M.InsertAll, s => (s._2, s._3)),
      ("INSERT (k, v, amt) VALUES (s.k, 'new', s.amt + 1)",
        M.Insert(Seq("k" -> "s.k", "v" -> "'new'", "amt" -> "s.amt + 1")),
        s => ("new", s._3 + 1)))
    val nActs: Seq[(String, M.Action, ((String, Long)) => Option[(String, Long)])] = Seq(
      ("DELETE", M.Delete, _ => None),
      ("UPDATE SET v = 'orphan'", M.Update(Seq("v" -> "'orphan'")),
        t => Some(("orphan", t._2))))

    def kw(s: String): String = randCase(s, rnd)
    val fixture: Map[Long, (String, Long)] =
      (1L to 6L).map(k => k -> ((s"r$k", 10L * k))).toMap

    (1 to 30).foreach { trial =>
      // clause groups: sizes 0-2 each, at least one clause overall;
      // non-final clauses carry a condition (the library contract)
      def sizes(): (Int, Int, Int) = {
        val t = (rnd.nextInt(3), rnd.nextInt(3), rnd.nextInt(3))
        if (t._1 + t._2 + t._3 == 0) (1, 1, 0) else t
      }
      val (nm, ni, nn) = sizes()
      def draw[A](pool: Seq[A]): A = pool(rnd.nextInt(pool.size))
      val matched = (0 until nm).map { i =>
        val cond = if (i < nm - 1 || rnd.nextBoolean()) Some(draw(mConds)) else None
        val act = draw(mActs)
        MCl(cond.map(_._1), (t, s) => cond.forall(_._2(t, s)), act._1,
          M.When(cond.map(_._1), act._2), act._3)
      }
      val inserted = (0 until ni).map { i =>
        val cond = if (i < ni - 1 || rnd.nextBoolean()) Some(draw(iConds)) else None
        val act = draw(iActs)
        ICl(cond.map(_._1), s => cond.forall(_._2(s)), act._1,
          M.When(cond.map(_._1), act._2), act._3)
      }
      val bySource = (0 until nn).map { i =>
        val cond = if (i < nn - 1 || rnd.nextBoolean()) Some(draw(nConds)) else None
        val act = draw(nActs)
        NCl(cond.map(_._1), t => cond.forall(_._2(t)), act._1,
          M.When(cond.map(_._1), act._2), act._3)
      }
      // source: DISTINCT keys (no cardinality violations in legal
      // trials — the violation is its own near-legal case below)
      val srcKeys = rnd.shuffle((0L to 9L).toList).take(rnd.nextInt(7))
      val src = srcKeys.map(k => (k, s"s$k", rnd.nextInt(200).toLong))

      // driver-side first-passing-clause-wins fold; anyFired tracks the
      // no-op contract (a FIRED clause commits even when the new values
      // happen to equal the old — only nothing-fired is a no-op)
      val expected = scala.collection.mutable.Map.empty[Long, (String, Long)]
      var anyFired = false
      val srcByK = src.map(s => s._1 -> s).toMap
      fixture.foreach { case (k, t) =>
        srcByK.get(k) match {
          case Some(s) =>
            matched.find(_.fires(t, (s._2, s._3))) match {
              case Some(cl) =>
                anyFired = true
                cl.apply(t, (s._2, s._3)).foreach(expected(k) = _)
              case None => expected(k) = t
            }
          case None =>
            bySource.find(_.fires(t)) match {
              case Some(cl) =>
                anyFired = true
                cl.apply(t).foreach(expected(k) = _)
              case None => expected(k) = t
            }
        }
      }
      src.filterNot(s => fixture.contains(s._1)).foreach { s =>
        inserted.find(_.fires(s)).foreach { cl =>
          anyFired = true
          expected(s._1) = cl.apply(s)
        }
      }

      // SQL face
      val name = s"fz_merge_t$trial"
      val t1 = TxLog(spark, tmpDir(s"fz_merge_sql_$trial"))
      t1.overwrite(fixture.toSeq.map { case (k, (v, a)) => (k, v, a) }
        .toDF("k", "v", "amt"))
      src.toDF("k", "v", "amt").createOrReplaceTempView("fz_merge_src")
      TxLogSql.register(name, t1)
      val evolve = rnd.nextBoolean()
      val sql = new StringBuilder()
        .append(kw("MERGE "))
        .append(if (evolve) kw("WITH SCHEMA EVOLUTION ") else "")
        .append(kw("INTO ")).append(name).append(kw(" AS t "))
        .append(kw("USING fz_merge_src AS s "))
        .append(kw("ON ")).append("t.k = s.k")
      matched.foreach(c => sql.append(kw(" WHEN MATCHED"))
        .append(c.condSql.fold("")(x => kw(" AND ") + x))
        .append(kw(" THEN ")).append(c.sqlAction))
      inserted.foreach(c => sql.append(kw(" WHEN NOT MATCHED"))
        .append(if (rnd.nextBoolean()) kw(" BY TARGET") else "")
        .append(c.condSql.fold("")(x => kw(" AND ") + x))
        .append(kw(" THEN ")).append(c.sqlAction))
      bySource.foreach(c => sql.append(kw(" WHEN NOT MATCHED BY SOURCE"))
        .append(c.condSql.fold("")(x => kw(" AND ") + x))
        .append(kw(" THEN ")).append(c.sqlAction))
      val vBefore = t1.currentVersion()
      try {
        spark.sql(sql.toString)
        val gotSql = t1.snapshot().collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
        assert(gotSql === expected.toMap, s"trial $trial SQL face:\n$sql")
        // nothing-fired MERGE must be a full no-op (no version churn)
        if (!anyFired)
          assert(t1.currentVersion() === vBefore, s"trial $trial: no-op churned")

        // library face on a fresh table: identical result
        val t2 = TxLog(spark, tmpDir(s"fz_merge_lib_$trial"))
        t2.overwrite(fixture.toSeq.map { case (k, (v, a)) => (k, v, a) }
          .toDF("k", "v", "amt"))
        t2.mergeInto(src.toDF("k", "v", "amt"), "t.k = s.k",
          matched = matched.map(_.lib), notMatched = inserted.map(_.lib),
          notMatchedBySource = bySource.map(_.lib), evolve = evolve)
        val gotLib = t2.snapshot().collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
        assert(gotLib === gotSql, s"trial $trial library face:\n$sql")
      } finally TxLogSql.unregister(name)
    }
  }

  test("fuzz: near-legal MERGE shapes reject loudly with the table untouched") {
    import graft.pipeline.TxLog
    import spark.implicits._
    val t = TxLog(spark, tmpDir("fz_merge_bad"))
    val fixture = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "amt")
    t.overwrite(fixture)
    Seq((1L, "x", 5L), (9L, "y", 7L)).toDF("k", "v", "amt")
      .createOrReplaceTempView("fz_bad_src")
    TxLogSql.register("fz_bad_tgt", t)
    try {
      val pre = t.snapshot().collect().map(_.toSeq).toSet
      val vPre = t.currentVersion()
      val bads = Seq(
        // non-final clause without its AND condition (library contract)
        """MERGE INTO fz_bad_tgt t USING fz_bad_src s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN MATCHED THEN DELETE""",
        // assignment to a column the target does not have
        """MERGE INTO fz_bad_tgt t USING fz_bad_src s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET nope = s.v""",
        // INSERT action in a MATCHED clause (grammar violation)
        """MERGE INTO fz_bad_tgt t USING fz_bad_src s ON t.k = s.k
           WHEN MATCHED THEN INSERT *""",
        // UPDATE action in a NOT MATCHED clause (grammar violation)
        """MERGE INTO fz_bad_tgt t USING fz_bad_src s ON t.k = s.k
           WHEN NOT MATCHED THEN UPDATE SET v = s.v""",
        // keyword near-misses: one letter off must parse-fail, never bind
        """MERGE INTO fz_bad_tgt t USING fz_bad_src s ON t.k = s.k
           WHEN MATCHD THEN DELETE""",
        """MERGE INTO fz_bad_tgt t USING fz_bad_src s ON t.k = s.k
           WHEN NOT MATCHED BY SORCE THEN DELETE""")
      bads.foreach { bad =>
        val r = scala.util.Try(spark.sql(bad))
        assert(r.isFailure, s"near-legal MERGE accepted:\n$bad")
        assert(t.currentVersion() === vPre,
          s"near-legal MERGE committed a version:\n$bad")
        assert(t.snapshot().collect().map(_.toSeq).toSet === pre,
          s"near-legal MERGE changed rows:\n$bad")
      }
      // cardinality violation: two source rows modifying one target row
      Seq((1L, "x", 5L), (1L, "y", 7L)).toDF("k", "v", "amt")
        .createOrReplaceTempView("fz_bad_dup")
      val dup = scala.util.Try(spark.sql(
        """MERGE INTO fz_bad_tgt t USING fz_bad_dup s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET v = s.v"""))
      assert(dup.isFailure, "duplicate-source MERGE must fail the commit")
      assert(t.currentVersion() === vPre && t.snapshot().count() === 2)
    } finally TxLogSql.unregister("fz_bad_tgt")
  }

  // ---- time-travel / table_changes literal-typed dispatch fuzz (r17 item 5) --
  // The next-riskiest literal surface after MERGE: read bounds route on
  // the literal's TYPE (integral = version; string/DATE/TIMESTAMP =
  // commit clock — SURVEY §7.6), and a `v: Number` match would silently
  // read DATE'2024-01-01' as starting version ~19700. Random legal
  // forms must produce EXACTLY the library face's frames (snapshot /
  // snapshotAsOf / changes); near-legal forms must reject loudly —
  // never resolve a different version than the one addressed.

  test("fuzz: VERSION/TIMESTAMP AS OF resolves the library snapshot in plain, subquery, CTE and scalar positions") {
    import graft.pipeline.TxLog
    import spark.implicits._
    val rnd = new Random(24601)
    val t = TxLog(spark, tmpDir("fz_tt_read"))
    t.overwrite((1L to 10L).map(k => (k, k * 10L)).toDF("k", "v"))     // v0
    t.append((11L to 15L).map(k => (k, k * 10L)).toDF("k", "v"))      // v1
    t.deleteWhere("k % 3 = 0")                                        // v2
    t.append((16L to 18L).map(k => (k, k * 10L)).toDF("k", "v"))      // v3
    val maxV = t.currentVersion()
    assert(maxV === 3L)
    TxLogSql.register("fz_tt_tbl", t, keys = Seq("k"))
    try {
      def libSum(ver: Long): Long =
        t.snapshot(ver).agg(org.apache.spark.sql.functions.sum("v"))
          .collect().head.getLong(0)
      (1 to 40).foreach { trial =>
        val v = rnd.nextInt(maxV.toInt + 1).toLong
        // VERSION AS OF in a random structural position — the nested
        // positions item: the HINTS-batch substitution must fire
        // wherever the RelationTimeTravel node lands in the tree
        val sql = rnd.nextInt(4) match {
          case 0 => s"SELECT sum(v) AS s FROM fz_tt_tbl VERSION AS OF $v"
          case 1 => s"SELECT sum(v) AS s FROM (SELECT * FROM fz_tt_tbl VERSION AS OF $v) x"
          case 2 => s"WITH snap AS (SELECT * FROM fz_tt_tbl VERSION AS OF $v) " +
            "SELECT sum(v) AS s FROM snap"
          case _ => s"SELECT (SELECT sum(v) FROM fz_tt_tbl VERSION AS OF $v) AS s"
        }
        assert(spark.sql(sql).collect().head.getLong(0) === libSum(v),
          s"trial $trial: $sql")
        // TIMESTAMP AS OF — three literal spellings of the same commit
        // instant must all resolve through the SAME commit-clock path
        // the library uses (snapshotAsOf), never through the version path
        val ts = t.commitInstant(v)
        val tsStr = spark.sql(s"SELECT CAST(timestamp_millis($ts) AS STRING)")
          .collect().head.getString(0)
        val expectAsOf = t.snapshotAsOf(ts)
          .agg(org.apache.spark.sql.functions.sum("v")).collect().head.getLong(0)
        Seq(
          s"timestamp_millis($ts)",          // deterministic expression
          s"'$tsStr'",                       // plain string literal
          s"TIMESTAMP '$tsStr'"              // typed TIMESTAMP literal
        ).foreach { spelling =>
          val q = s"SELECT sum(v) AS s FROM fz_tt_tbl TIMESTAMP AS OF $spelling"
          assert(spark.sql(q).collect().head.getLong(0) === expectAsOf,
            s"trial $trial: $q")
        }
      }
      // near-legal: a non-integer VERSION must reject loudly, and a
      // mutated keyword must fail the statement — never resolve some
      // other snapshot
      Seq(
        "SELECT * FROM fz_tt_tbl VERSION AS OF 'abc'",
        "SELECT * FROM fz_tt_tbl VERSION AS OF 1.5",
        "SELECT * FROM fz_tt_tbl VERSON AS OF 1",
        "SELECT * FROM fz_tt_tbl VERSION AS FO 1",
        "SELECT * FROM fz_tt_tbl TIMESTAMP AS OF NULL").foreach { bad =>
        assert(scala.util.Try(spark.sql(bad).collect()).isFailure,
          s"near-legal time travel accepted: $bad")
      }
    } finally TxLogSql.unregister("fz_tt_tbl")
  }

  test("fuzz: table_changes bounds — integer=version, string/DATE/TIMESTAMP=commit clock, mixed freely; mis-typed bounds reject") {
    import graft.pipeline.TxLog
    import spark.implicits._
    val rnd = new Random(86400)
    val t = TxLog(spark, tmpDir("fz_tt_cdf"))
    t.overwrite((1L to 8L).map(k => (k, s"a$k")).toDF("k", "s"))      // v0
    t.append((9L to 12L).map(k => (k, s"b$k")).toDF("k", "s"))        // v1
    t.deleteWhere("k % 4 = 0")                                        // v2
    t.append((13L to 14L).map(k => (k, s"c$k")).toDF("k", "s"))       // v3
    val maxV = t.currentVersion()
    TxLogSql.register("fz_cdf_tbl", t, keys = Seq("k"))
    try {
      def libChanges(f: Long, to: Long): Long = t.changes(f, to, Seq("k")).count()
      def tsStrOf(ms: Long): String =
        spark.sql(s"SELECT CAST(timestamp_millis($ms) AS STRING)")
          .collect().head.getString(0)
      (1 to 40).foreach { trial =>
        val from = rnd.nextInt(maxV.toInt + 1).toLong
        val to = from + rnd.nextInt(maxV.toInt + 1 - from.toInt).toLong
        // each bound independently draws a spelling; timestamps resolve
        // on the commit clock exactly as the library does (starting
        // bound: versionAtOrAfter; ending bound: versionAsOf), so the
        // expectation is computed through those SAME library calls
        def spell(v: Long, starting: Boolean): (String, Long) =
          rnd.nextInt(3) match {
            case 0 => (v.toString, v)
            case _ =>
              val ms = t.commitInstant(v)
              val resolved = if (starting) t.versionAtOrAfter(ms) else t.versionAsOf(ms)
              val lit = if (rnd.nextBoolean()) s"'${tsStrOf(ms)}'"
                        else s"TIMESTAMP '${tsStrOf(ms)}'"
              (lit, resolved)
          }
        val (fLit, fRes) = spell(from, starting = true)
        val (tLit, tRes) = spell(to, starting = false)
        if (fRes <= tRes) {
          val q = s"SELECT count(*) AS c FROM table_changes('fz_cdf_tbl', $fLit, $tLit)"
          assert(spark.sql(q).collect().head.getLong(0) === libChanges(fRes, tRes),
            s"trial $trial: $q (resolved $fRes..$tRes)")
        }
      }
      // THE regression this dispatch exists for: a DATE literal is an
      // Int internally (days since epoch) — a Number match would read
      // it as starting version ~20000 and serve wrong results silently.
      // Routed on type, today's midnight precedes every commit, so the
      // window equals changes-from-v0.
      val today = java.time.LocalDate.now(java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone)).toString
      val dq = s"SELECT count(*) AS c FROM table_changes('fz_cdf_tbl', DATE '$today', $maxV)"
      assert(spark.sql(dq).collect().head.getLong(0) === libChanges(0L, maxV), dq)
      // mis-typed / malformed bounds reject loudly, never mis-bind
      Seq(
        s"SELECT * FROM table_changes('fz_cdf_tbl', 1.5, $maxV)",
        s"SELECT * FROM table_changes('fz_cdf_tbl', CAST(1.5 AS DOUBLE), $maxV)",
        s"SELECT * FROM table_changes('fz_cdf_tbl', 0)",
        s"SELECT * FROM table_changes('fz_cdf_tbl', 0, 1, 2)",
        s"SELECT * FROM table_changes('no_such_tbl_xyz', 0, 1)",
        s"SELECT * FROM table_changes(k, 0, 1)").foreach { bad =>
        assert(scala.util.Try(spark.sql(bad).collect()).isFailure,
          s"mis-typed table_changes accepted: $bad")
      }
    } finally TxLogSql.unregister("fz_cdf_tbl")
  }

  test("fuzz: RESTORE dispatch executes against the addressed version and rejects near-legal tails") {
    import graft.pipeline.TxLog
    import spark.implicits._
    val rnd = new Random(51423)
    (1 to 6).foreach { trial =>
      val t = TxLog(spark, tmpDir(s"fz_tt_restore_$trial"))
      t.overwrite((1L to 5L).map(k => (k, k)).toDF("k", "v"))
      t.append(Seq((6L, 6L), (7L, 7L)).toDF("k", "v"))
      t.deleteWhere("k <= 2")
      val name = s"fz_restore_tbl_$trial"
      TxLogSql.register(name, t)
      try {
        val v = rnd.nextInt(3).toLong
        val want = t.snapshot(v).collect().map(_.toSeq).toSet
        spark.sql(render(Seq(K("RESTORE"), K("TABLE"), T(name), K("TO"),
          K("VERSION"), K("AS"), K("OF"), T(v.toString)), rnd))
        assert(t.snapshot().collect().map(_.toSeq).toSet === want,
          s"trial $trial: RESTORE to $v served different rows than snapshot($v)")
        // near-legal tail: garbage after the version must fail loudly
        // with no version committed
        val vAfter = t.currentVersion()
        val bad = s"RESTORE TABLE $name TO VERSION AS OF 1 EXTRA"
        assert(scala.util.Try(spark.sql(bad)).isFailure, bad)
        assert(t.currentVersion() === vAfter, s"near-legal RESTORE committed: $bad")
      } finally TxLogSql.unregister(name)
    }
  }

  test("registered-name guard: ALTER/ANALYZE forms fall through to Spark for unknown names") {
    // Spark's own grammar must keep working for catalog tables: the
    // face intercepts these shapes ONLY for registered TxLog names
    val alter = parser.parsePlan(
      "ALTER TABLE some_catalog_tbl SET TBLPROPERTIES ('a' = 'b')")
    assert(!isGraft(alter), alter.getClass.getName)
    val analyze = parser.parsePlan(
      "ANALYZE TABLE some_catalog_tbl COMPUTE STATISTICS FOR ALL COLUMNS")
    assert(!isGraft(analyze), analyze.getClass.getName)
    // and a REGISTERED name routes to the graft commands
    val loc = tmpDir("fuzz_guard")
    spark.sql(s"""
      CREATE TABLE fuzz_guard_tbl (id BIGINT) USING graft
      TBLPROPERTIES ('keys' = 'id') LOCATION '$loc'""")
    try {
      val g = parser.parsePlan(
        "ALTER TABLE fuzz_guard_tbl SET TBLPROPERTIES ('a' = 'b')")
      assert(g === TxLogSetPropertiesCommand("fuzz_guard_tbl", Seq("a" -> "b")))
      val ga = parser.parsePlan(
        "ANALYZE TABLE fuzz_guard_tbl COMPUTE STATISTICS FOR COLUMNS id")
      assert(ga === TxLogAnalyzeCommand("fuzz_guard_tbl", Seq("id"), allColumns = false))
    } finally TxLogSql.unregister("fuzz_guard_tbl")
  }
}
