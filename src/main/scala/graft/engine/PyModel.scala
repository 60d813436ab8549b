package graft.engine

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt PYTHON models (`.py` files under models/, dbt 1.3): a file defining
  * `def model(dbt, session)` that reads upstreams via `dbt.ref()` /
  * `dbt.source()` and returns a DataFrame. On dbt-spark the `session`
  * IS a SparkSession, so the engine runs these natively in-process — no
  * external Python runtime, no serialization boundary.
  *
  * This is a STRUCTURAL frontend for the documented dbt-spark Python
  * model shape, not a general Python interpreter. The supported
  * statement forms inside `def model` are exactly:
  *
  *   - `dbt.config(materialized="table", ...)`    (string/bool/
  *     list-of-string kwargs)
  *   - `x = dbt.ref("model")` / `dbt.ref("project", "model")` /
  *     `dbt.source("src", "table")`
  *   - `x = session.sql("...")` (single- or triple-quoted)
  *   - `x.createOrReplaceTempView("name")`
  *   - `y = <expr>.method(...)...` over the whitelisted string-arg
  *     DataFrame methods: filter/where, select, selectExpr, drop,
  *     orderBy/sort, limit, distinct, dropDuplicates,
  *     withColumnRenamed, repartition, coalesce
  *   - `return <expr>`
  *
  * Anything else — arbitrary pyspark expressions, pandas, UDFs,
  * imports used in the body — fails AT PROJECT LOAD with the offending
  * statement, dbt's compile-error discipline. Top-level `import` lines
  * are tolerated (dbt's own scaffolding emits them) but nothing binds.
  *
  * Refs/sources are extracted at parse time, so Python models
  * participate in DAG selection, docs, and state:modified exactly like
  * SQL models (the fingerprint hashes the file text).
  */
object PyModel {

  sealed trait Arg
  final case class StrArg(v: String) extends Arg
  final case class IntArg(v: Int) extends Arg

  final case class Call(method: String, args: Seq[Arg])

  sealed trait Expr
  final case class RefExpr(key: String) extends Expr
  final case class SqlExpr(text: String) extends Expr
  final case class VarExpr(name: String) extends Expr
  final case class ChainExpr(base: Expr, calls: Seq[Call]) extends Expr

  sealed trait Stmt
  final case class Assign(target: String, value: Expr) extends Stmt
  final case class TempView(variable: String, view: String) extends Stmt
  final case class Return(value: Expr) extends Stmt

  final case class Parsed(
      name: String,
      stmts: Seq[Stmt],
      /** dbt.config(...) kwargs, stringified. */
      config: Map[String, String],
      /** ref/source keys in first-appearance order (sources as `s.t`). */
      refs: Seq[String])

  private val strLit = """(?:\"\"\"([\s\S]*?)\"\"\"|'''([\s\S]*?)'''|"((?:[^"\\]|\\.)*)"|'((?:[^'\\]|\\.)*)')"""
  private val strPat = Pattern.compile("^" + strLit)
  private val identPat = Pattern.compile("""^[A-Za-z_]\w*$""")

  private def fail(where: String, what: String): Nothing =
    throw new IllegalArgumentException(s"$where: $what")

  /** Parse a python model file. `declaredSources` validates
    * `dbt.source` calls (None = skip validation, the Scala-API path).
    */
  def parse(name: String, raw: String, where: String,
            declaredSources: Option[Set[(String, String)]] = None): Parsed = {
    val stmtsText = splitStatements(raw, where)
    // Locate `def model(dbt, session):` — exactly one, with those params.
    val defIdx = stmtsText.indexWhere(_._1.matches("""def\s+model\s*\(\s*dbt\s*,\s*session\s*\)\s*:.*"""))
    if (defIdx < 0) {
      val anyDef = stmtsText.find(_._1.startsWith("def "))
      fail(where, anyDef match {
        case Some((d, _)) => s"python models must define `def model(dbt, session)`, found `${d.takeWhile(_ != ':')}`"
        case None => "no `def model(dbt, session)` function found"
      })
    }
    // Body = statements indented under the def; anything non-import,
    // non-blank at top level after it is unsupported.
    val (top, rest) = stmtsText.splitAt(defIdx)
    top.foreach { case (s, ind) =>
      if (!(s.startsWith("import ") || s.startsWith("from ")))
        fail(where, s"unsupported top-level statement before def model: `$s`")
    }
    val defIndent = rest.head._2
    val body = rest.tail.takeWhile(_._2 > defIndent)
    val after = rest.tail.drop(body.length)
    after.foreach { case (s, _) =>
      if (!(s.startsWith("import ") || s.startsWith("from ")))
        fail(where, s"unsupported top-level statement after def model: `$s`")
    }
    if (body.isEmpty) fail(where, "def model has an empty body")

    val config = scala.collection.mutable.Map.empty[String, String]
    val stmts = scala.collection.mutable.ArrayBuffer.empty[Stmt]
    body.map(_._1).foreach { st =>
      if (st.startsWith("dbt.config(") && st.endsWith(")")) {
        parseKwargs(st.stripPrefix("dbt.config(").stripSuffix(")"), where)
          .foreach { case (k, v) => config(k) = v }
      } else if (st.startsWith("return ") || st == "return") {
        val e = st.stripPrefix("return").trim
        if (e.isEmpty) fail(where, "`return` must return a DataFrame expression")
        stmts += Return(parseExpr(e, where, declaredSources))
      } else {
        val tvM = Pattern.compile(
          """^([A-Za-z_]\w*)\.createOrReplaceTempView\(\s*""" + strLit + """\s*\)$""").matcher(st)
        val asM = Pattern.compile("""^([A-Za-z_]\w*)\s*=\s*(.+)$""", Pattern.DOTALL).matcher(st)
        if (tvM.matches())
          stmts += TempView(tvM.group(1), firstGroup(tvM, 2))
        else if (asM.matches())
          stmts += Assign(asM.group(1), parseExpr(asM.group(2).trim, where, declaredSources))
        else fail(where, s"unsupported statement in def model: `${st.linesIterator.next()}` " +
          "(supported: dbt.config, x = dbt.ref/dbt.source/session.sql/<chain>, " +
          "x.createOrReplaceTempView, return)")
      }
    }
    require(stmts.count(_.isInstanceOf[Return]) == 1 && stmts.last.isInstanceOf[Return],
      s"$where: def model must end with exactly one `return <DataFrame>`")
    // Bound-variable discipline: every variable is assigned before use.
    val bound = scala.collection.mutable.Set.empty[String]
    def checkExpr(e: Expr): Unit = e match {
      case VarExpr(v) => if (!bound(v)) fail(where, s"variable '$v' used before assignment")
      case ChainExpr(b, _) => checkExpr(b)
      case _ => ()
    }
    stmts.foreach {
      case Assign(t, v) => checkExpr(v); bound += t
      case TempView(v, _) => if (!bound(v)) fail(where, s"variable '$v' used before assignment")
      case Return(v) => checkExpr(v)
    }
    def refsOf(e: Expr): Seq[String] = e match {
      case RefExpr(k) => Seq(k)
      case ChainExpr(b, _) => refsOf(b)
      case _ => Nil
    }
    val refs = stmts.flatMap {
      case Assign(_, v) => refsOf(v)
      case Return(v) => refsOf(v)
      case _ => Nil
    }.distinct.toSeq
    Parsed(name, stmts.toSeq, config.toMap, refs)
  }

  /** Rewrite every ref key (RefExpr keys and the refs list) through
    * `f` — the loader uses this to resolve two-arg `project::model`
    * keys to the bare upstream model name after validating the mesh
    * rules, mirroring the SQL models' rewriteProjectRefs.
    */
  def rewriteRefs(parsed: Parsed, f: String => String): Parsed = {
    def rewriteExpr(e: Expr): Expr = e match {
      case RefExpr(k) => RefExpr(f(k))
      case ChainExpr(b, calls) => ChainExpr(rewriteExpr(b), calls)
      case other => other
    }
    parsed.copy(
      stmts = parsed.stmts.map {
        case Assign(t, v) => Assign(t, rewriteExpr(v))
        case Return(v) => Return(rewriteExpr(v))
        case tv => tv
      },
      refs = parsed.refs.map(f).distinct)
  }

  /** The build closure for a parsed python model: execute the statement
    * list against the resolved upstream frames.
    */
  /** Serializes py-model builds that touch the SHARED session catalog:
    * user-chosen temp-view names from two models built concurrently
    * (DagRunner.build's worker pool) would otherwise race — model B's
    * createOrReplaceTempView overwriting model A's view between A's
    * registration and A's session.sql read.
    */
  private val catalogLock = new Object

  def buildFn(parsed: Parsed, where: String): (SparkSession, Map[String, DataFrame]) => DataFrame =
    (spark, resolved) => {
      val env = scala.collection.mutable.Map.empty[String, DataFrame]
      def eval(e: Expr): DataFrame = e match {
        case RefExpr(k) => resolved.getOrElse(k,
          fail(where, s"ref '$k' was not resolved by the runner"))
        case SqlExpr(t) => spark.sql(t)
        case VarExpr(v) => env(v)
        case ChainExpr(b, calls) => calls.foldLeft(eval(b))(applyCall(_, _, where))
      }
      def run(): DataFrame = {
        val created = scala.collection.mutable.ArrayBuffer.empty[String]
        try {
          var out: Option[DataFrame] = None
          parsed.stmts.foreach {
            case Assign(t, v) => env(t) = eval(v)
            case TempView(v, n) => env(v).createOrReplaceTempView(n); created += n
            case Return(v) => out = Some(eval(v))
          }
          out.get
        } finally {
          // Dataset analysis is eager (view references are already
          // inlined into the returned frame's plan), so dropping here
          // is safe — and keeps user view names from leaking into (or
          // shadowing) the rest of the session.
          created.foreach(spark.catalog.dropTempView(_))
        }
      }
      val touchesCatalog = parsed.stmts.exists {
        case TempView(_, _) => true
        case _ => false
      }
      if (touchesCatalog) catalogLock.synchronized(run()) else run()
    }

  private def applyCall(df: DataFrame, c: Call, where: String): DataFrame = {
    def strs: Seq[String] = c.args.map {
      case StrArg(s) => s
      case IntArg(i) => fail(where, s".${c.method}: expected string arguments, got $i")
    }
    def oneInt: Int = c.args match {
      case Seq(IntArg(i)) => i
      case _ => fail(where, s".${c.method}(n) takes exactly one integer argument")
    }
    c.method match {
      case "filter" | "where" => strs match {
        case Seq(cond) => df.filter(cond)
        case _ => fail(where, s".${c.method} takes exactly one condition string")
      }
      case "select" => if (strs.isEmpty) fail(where, ".select needs at least one column")
        else df.select(strs.head, strs.tail: _*)
      case "selectExpr" => if (strs.isEmpty) fail(where, ".selectExpr needs at least one expression")
        else df.selectExpr(strs: _*)
      case "drop" => df.drop(strs: _*)
      case "orderBy" | "sort" => if (strs.isEmpty) fail(where, s".${c.method} needs at least one column")
        else df.orderBy(strs.head, strs.tail: _*)
      case "limit" => df.limit(oneInt)
      case "distinct" => if (c.args.nonEmpty) fail(where, ".distinct takes no arguments") else df.distinct()
      case "dropDuplicates" => if (c.args.isEmpty) df.dropDuplicates() else df.dropDuplicates(strs)
      case "withColumnRenamed" => strs match {
        case Seq(a, b) => df.withColumnRenamed(a, b)
        case _ => fail(where, ".withColumnRenamed takes exactly two string arguments")
      }
      case "repartition" => df.repartition(oneInt)
      case "coalesce" => df.coalesce(oneInt)
      case other => fail(where, s"unsupported DataFrame method .$other in python model " +
        "(supported: filter, where, select, selectExpr, drop, orderBy, sort, limit, " +
        "distinct, dropDuplicates, withColumnRenamed, repartition, coalesce)")
    }
  }

  // ---- expression / literal parsing ---------------------------------------

  private def firstGroup(m: java.util.regex.Matcher, from: Int): String =
    (from to m.groupCount).iterator.map(m.group).find(_ != null).getOrElse("")

  private def parseExpr(s: String, where: String,
                        declared: Option[Set[(String, String)]]): Expr = {
    val refM = Pattern.compile("""^dbt\.ref\(\s*""" + strLit + """\s*\)""").matcher(s)
    val ref2M = Pattern.compile("""^dbt\.ref\(\s*""" + strLit + """\s*,\s*""" + strLit + """\s*\)""").matcher(s)
    val srcM = Pattern.compile("""^dbt\.source\(\s*""" + strLit + """\s*,\s*""" + strLit + """\s*\)""").matcher(s)
    val sqlM = Pattern.compile("""^session\.sql\(\s*""" + strLit + """\s*\)""").matcher(s)
    val varM = Pattern.compile("""^([A-Za-z_]\w*)""").matcher(s)
    val (base, rest): (Expr, String) =
      // Two-arg form FIRST: `dbt.ref("project", "model")` — dbt's
      // cross-project reference. Encoded as `project::model`; the
      // project loader validates the project + public access and
      // rewrites to the bare upstream model key (mirroring the SQL
      // models' rewriteProjectRefs). The one-arg pattern would
      // otherwise match the two-arg call's prefix.
      if (ref2M.find()) {
        val proj = firstGroup(ref2M, 1)
        val mod = (5 to ref2M.groupCount).iterator.map(ref2M.group).find(_ != null).getOrElse("")
        (RefExpr(s"$proj::$mod"), s.substring(ref2M.end))
      }
      else if (refM.find()) (RefExpr(firstGroup(refM, 1)), s.substring(refM.end))
      else if (srcM.find()) {
        val src = firstGroup(srcM, 1)
        val tbl = (5 to srcM.groupCount).iterator.map(srcM.group).find(_ != null).getOrElse("")
        declared.foreach(d => require(d.contains((src, tbl)),
          s"$where: source('$src', '$tbl') is not declared in any sources.yml " +
            s"(declared: ${d.toSeq.sorted.map { case (a, b) => s"$a.$b" }.mkString(", ")})"))
        (RefExpr(s"$src.$tbl"), s.substring(srcM.end))
      }
      else if (sqlM.find()) (SqlExpr(firstGroup(sqlM, 1)), s.substring(sqlM.end))
      else if (varM.find() && !s.startsWith("dbt.") && !s.startsWith("session."))
        (VarExpr(varM.group(1)), s.substring(varM.end))
      else fail(where, s"unsupported expression: `$s`")
    val calls = parseCalls(rest.trim, where)
    if (calls.isEmpty) base else ChainExpr(base, calls)
  }

  private val supportedMethods = Set(
    "filter", "where", "select", "selectExpr", "drop", "orderBy", "sort",
    "limit", "distinct", "dropDuplicates", "withColumnRenamed",
    "repartition", "coalesce")

  private def parseCalls(s0: String, where: String): Seq[Call] = {
    var s = s0
    val out = scala.collection.mutable.ArrayBuffer.empty[Call]
    val callPat = Pattern.compile("""^\.\s*(\w+)\(""")
    while (s.nonEmpty) {
      val m = callPat.matcher(s)
      if (!m.find()) fail(where, s"unsupported trailing syntax: `$s`")
      // Method whitelist enforced at PARSE (= project load) so an
      // unsupported call is dbt's compile error, not a build-time one.
      if (!supportedMethods(m.group(1)))
        fail(where, s"unsupported DataFrame method .${m.group(1)} in python model " +
          s"(supported: ${supportedMethods.toSeq.sorted.mkString(", ")})")
      val (argsText, after) = spanBalanced(s.substring(m.end), where)
      out += Call(m.group(1), splitArgs(argsText, where).map(parseArg(_, where)))
      s = after.trim
    }
    out.toSeq
  }

  /** Consume up to the paren that closes the already-open call; returns
    * (inside, after-close). Quote-aware.
    */
  private def spanBalanced(s: String, where: String): (String, String) = {
    var depth = 1
    var i = 0
    while (i < s.length) {
      skipStringAt(s, i) match {
        case Some(j) => i = j
        case None =>
          s.charAt(i) match {
            case '(' => depth += 1; i += 1
            case ')' => depth -= 1; i += 1; if (depth == 0) return (s.substring(0, i - 1), s.substring(i))
            case _ => i += 1
          }
      }
    }
    fail(where, s"unbalanced parentheses in `$s`")
  }

  /** If a string literal starts at `i`, the index just past it. */
  private def skipStringAt(s: String, i: Int): Option[Int] = {
    def tq(q: String): Option[Int] =
      if (s.startsWith(q, i)) {
        val e = s.indexOf(q, i + q.length)
        if (e < 0) None else Some(e + q.length)
      } else None
    tq("\"\"\"").orElse(tq("'''")).orElse {
      val c = s.charAt(i)
      if (c == '"' || c == '\'') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != c) {
          if (s.charAt(j) == '\\') j += 1
          j += 1
        }
        if (j < s.length) Some(j + 1) else None
      } else None
    }
  }

  private def splitArgs(s: String, where: String): Seq[String] = {
    if (s.trim.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      skipStringAt(s, i) match {
        case Some(j) => i = j
        case None =>
          s.charAt(i) match {
            case '(' | '[' => depth += 1; i += 1
            case ')' | ']' => depth -= 1; i += 1
            case ',' if depth == 0 => out += s.substring(start, i); start = i + 1; i += 1
            case _ => i += 1
          }
      }
    }
    out += s.substring(start)
    out.map(_.trim).toSeq
  }

  private def parseArg(a: String, where: String): Arg = {
    val m = strPat.matcher(a)
    if (m.matches()) StrArg(firstGroup(m, 1))
    else if (a.matches("""-?\d+""")) IntArg(a.toInt)
    else fail(where, s"unsupported argument `$a` (string and integer literals only)")
  }

  private def parseKwargs(s: String, where: String): Seq[(String, String)] =
    splitArgs(s, where).map { kv =>
      val m = Pattern.compile("""^(\w+)\s*=\s*(.+)$""", Pattern.DOTALL).matcher(kv)
      if (!m.matches()) fail(where, s"dbt.config expects key=value kwargs, got `$kv`")
      val v = m.group(2).trim match {
        case "True" => "true"
        case "False" => "false"
        case lst if lst.startsWith("[") && lst.endsWith("]") =>
          // List-of-strings (dbt.config(tags=["a", "b"])) — stored
          // comma-joined; the loader splits for Model.tags.
          splitArgs(lst.stripPrefix("[").stripSuffix("]"), where).map { it =>
            val sm = strPat.matcher(it)
            if (sm.matches()) firstGroup(sm, 1)
            else fail(where, s"dbt.config list value for '${m.group(1)}' must contain string literals, got `$it`")
          }.mkString(",")
        case other =>
          val sm = strPat.matcher(other)
          if (sm.matches()) firstGroup(sm, 1)
          else fail(where, s"dbt.config value for '${m.group(1)}' must be a string, True/False, or a list of strings, got `$other`")
      }
      m.group(1) -> v
    }

  // ---- statement splitting -------------------------------------------------

  /** Split the file into logical statements with their indent depth:
    * comments stripped (quote-aware), lines joined while a paren is open
    * or a triple-quoted string is unterminated.
    */
  private def splitStatements(raw: String, where: String): Seq[(String, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val lines = raw.split("\n", -1)
    var buf = new StringBuilder
    var indent = -1
    var li = 0
    while (li < lines.length) {
      val line = lines(li)
      if (buf.isEmpty) {
        if (line.trim.nonEmpty && !line.trim.startsWith("#"))
          indent = line.takeWhile(_ == ' ').length
      }
      // Strip a trailing comment, quote-aware. A continuation line inside
      // an open triple-quoted string is appended verbatim — a '#' there
      // is SQL text, not a comment.
      def openTriple(b: CharSequence): Boolean = {
        val t = b.toString
        def odd(q: String) = t.sliding(3).count(_ == q) % 2 == 1
        odd("\"\"\"") || odd("'''")
      }
      val content = if (buf.nonEmpty && openTriple(buf)) line
      else {
        val s = if (buf.isEmpty) line.dropWhile(_ == ' ') else line
        val sb = new StringBuilder
        var i = 0
        var done = false
        while (i < s.length && !done) {
          // A triple-quote that OPENS here but does not close on this
          // line: the rest of the line is string content (a '#' in it
          // is SQL text, not a comment) — append verbatim and let the
          // continuation-line path take over. Without this, skipStringAt
          // mis-lexes the opener as an empty ''/"" literal and the
          // stripper truncates the line at the in-string '#'.
          val tripleOpen = Seq("\"\"\"", "'''").find(q =>
            s.startsWith(q, i) && s.indexOf(q, i + q.length) < 0)
          if (tripleOpen.isDefined) { sb.append(s.substring(i)); i = s.length }
          else skipStringAt(s, i) match {
            case Some(j) if j <= s.length => sb.append(s.substring(i, j)); i = j
            case _ =>
              if (s.charAt(i) == '#') done = true
              else { sb.append(s.charAt(i)); i += 1 }
          }
        }
        sb.toString
      }
      if (content.trim.nonEmpty || buf.nonEmpty) {
        if (buf.nonEmpty) buf.append('\n')
        buf.append(if (buf.isEmpty) content.trim else content)
        val text = buf.toString
        if (balanced(text)) {
          if (text.trim.nonEmpty) out += ((text.trim, indent))
          buf = new StringBuilder
        }
      }
      li += 1
    }
    if (buf.nonEmpty && buf.toString.trim.nonEmpty)
      fail(where, s"unterminated statement: `${buf.toString.linesIterator.next()}`")
    out.toSeq
  }

  /** True when no paren/bracket is open and no string is unterminated. */
  private def balanced(s: String): Boolean = {
    // An unterminated triple-quoted string means the statement
    // continues on later lines — decide BEFORE the char loop, whose
    // single-quote fallback would mis-lex the opener's interior.
    def odd(q: String) = s.sliding(3).count(_ == q) % 2 == 1
    if (odd("\"\"\"") || odd("'''")) return false
    var depth = 0
    var i = 0
    while (i < s.length) {
      skipStringAt(s, i) match {
        case Some(j) => i = j
        case None =>
          s.charAt(i) match {
            case '(' | '[' => depth += 1
            case ')' | ']' => depth -= 1
            case '"' | '\'' => return false // unterminated string start
            case _ => ()
          }
          i += 1
      }
    }
    depth <= 0
  }
}
