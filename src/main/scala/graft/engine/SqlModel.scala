package graft.engine

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt's SQL-TEXT authoring surface: a model is a `.sql` file whose body
  * is a single SELECT with `{{ ref('name') }}` / `{{ source('src',
  * 'table') }}` / `{{ var('name') }}` template calls (e.g.
  * `/root/reference/models/datamarts/npo-data-hub/reporting/
  * integral_reporting/integral_reporting_youtube.sql:18,21`). This
  * frontend turns such text into an engine [[Model]] WITHOUT
  * recompilation: refs are extracted by parsing the template, and at
  * build time each resolved upstream frame is registered as a temp view,
  * the call sites are rewritten to those view names, and the body runs
  * through `spark.sql`.
  *
  * Design choices vs dbt/Jinja:
  *   - The SQL dialect is Spark SQL (the engine's native dialect), not
  *     BigQuery: the reference project's text ports re-express its
  *     BigQuery constructs with `graft.dialect.Dialect` semantics and are
  *     DuckDB-oracled end-to-end via the `dag_*` rows.
  *   - Full Jinja (loops, macros) is out of scope; `{{ config(...) }}`
  *     headers are stripped (materialization is declared engine-side),
  *     `{{ var('x') }}` substitutes from a caller map at parse time —
  *     the `today` injection keeping runs reproducible where the
  *     reference calls CURRENT_DATE(). The ONE Jinja control construct
  *     the reference actually uses IS supported: `{% set name = [...] %}`
  *     string lists with `{{ name | join(sep) }}` interpolation — the
  *     partition-list templating of the incremental model
  *     (`atinternet_smarttag_streams_daily_v4.sql:1-12,75,101`).
  *   - Catalyst still optimizes ACROSS model boundaries: a View
  *     materialization registers the parsed plan as a temp view, so a
  *     downstream model's filter pushes through the upstream SQL text
  *     exactly as it does through a DataFrame-built model.
  *
  * View registration: upstream names are rewritten to `graft_ref_`-
  * prefixed sanitized identifiers (a ref like
  * `360_graden_rapportage_...` is not a legal bare Spark identifier).
  * Registration happens per-build, immediately before `spark.sql`, so
  * two models reffing the same upstream never race in a sequential DAG
  * run.
  */
object SqlModel {

  private val refPat =
    Pattern.compile("""\{\{\s*ref\(\s*'([^']+)'\s*\)\s*\}\}""")
  // ref('m', v=2) / ref('m', version=2) — a version-PINNED ref to a
  // versioned model (dbt 1.5); resolves to the canonical node name
  // `m.v2` (DagRunner.resolveVersionRefs handles the unpinned-latest
  // case).
  private val refVerPat =
    Pattern.compile("""\{\{\s*ref\(\s*'([^']+)'\s*,\s*(?:v|version)\s*=\s*(\d+)\s*\)\s*\}\}""")
  private val sourcePat =
    Pattern.compile("""\{\{\s*source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}""")
  // var('x') or var("x") — double quotes let a var call nest inside a
  // single-quoted Jinja string item of a {% set %} list.
  private val varPat =
    Pattern.compile("""\{\{\s*var\(\s*['"]([^'"]+)['"]\s*\)\s*\}\}""")
  // env_var('NAME') / env_var('NAME', 'default') — dbt's environment
  // interpolation (secrets, CI toggles). Resolved at PARSE time from the
  // process environment; a missing variable WITHOUT a declared default is
  // dbt's compilation error (silently-empty env interpolation ships wrong
  // SQL). The optional second argument is the dbt default-argument form.
  private val envVarPat = Pattern.compile(
    """\{\{\s*env_var\(\s*['"]([^'"]+)['"]\s*(?:,\s*['"]([^'"]*)['"]\s*)?\)\s*\}\}""")
  private val configPat =
    Pattern.compile("""\{\{\s*config\([^}]*\)\s*\}\}""")
  // tags=['a', 'b'] or tags='a' inside a config(...) header — dbt model
  // tags, surfaced as Model.tags for `tag:` selection.
  private val configTagsPat = Pattern.compile(
    """\{\{\s*config\([^}]*?tags\s*=\s*(\[[^\]]*\]|'[^']*')[^}]*\)\s*\}\}""")
  // {% set name = [ 'item', ... ] %} — the Jinja shape the reference's
  // incremental model uses for its partition list
  // (atinternet_smarttag_streams_daily_v4.sql:1-12); items are
  // single-quoted strings (no embedded single quotes — var() calls inside
  // items use double quotes, see varPat).
  private val setListPat =
    Pattern.compile("""\{%-?\s*set\s+(\w+)\s*=\s*\[(.*?)\]\s*-?%\}""", Pattern.DOTALL)
  private val setItemPat = Pattern.compile("""'([^']*)'""")
  // {{ name | join(',') }} — list interpolation (same file lines 75, 101).
  private val joinPat =
    Pattern.compile("""\{\{\s*(\w+)\s*\|\s*join\(\s*'([^']*)'\s*\)\s*\}\}""")
  // {% if is_incremental() %} ... [{% else %} ...] {% endif %} — the
  // near-universal real-dbt incremental idiom (delta-filter the source
  // against the model's own high-water mark). Resolved at BUILD time
  // from the runner's target context, not at parse time: the same text
  // renders the full-build branch on first run / --full-refresh and the
  // delta branch once the target exists.
  private val ifIncPat = Pattern.compile(
    """\{%-?\s*if\s+is_incremental\(\)\s*-?%\}(.*?)(?:\{%-?\s*else\s*-?%\}(.*?))?\{%-?\s*endif\s*-?%\}""",
    Pattern.DOTALL)
  // {{ this }} — the model's own target relation, rendered as a direct
  // parquet path scan of the warehouse location.
  private val thisPat = Pattern.compile("""\{\{\s*this\s*\}\}""")

  private[engine] def viewName(ref: String): String =
    "graft_ref_" + ref.replaceAll("[^A-Za-z0-9_]", "_")

  /** A single-quoted scalar from the `{{ config(...) }}` header
    * (`materialized='view'`, `schema='x'`, ...). `private[engine]`:
    * [[ProjectLoader]] reads headers to apply dbt config precedence.
    */
  private[engine] def configStr(sqlText: String, key: String): Option[String] = {
    val p = Pattern.compile(
      """\{\{\s*config\([^}]*?""" + key + """\s*=\s*'([^']*)'[^}]*\)\s*\}\}""")
    val m = p.matcher(sqlText)
    if (m.find()) Some(m.group(1)) else None
  }

  /** A boolean from the config header — accepts Jinja `True`/`true`,
    * quoted or bare (`invalidate_hard_deletes=true`).
    */
  private[engine] def configBool(sqlText: String, key: String): Option[Boolean] = {
    val p = Pattern.compile(
      """\{\{\s*config\([^}]*?""" + key + """\s*=\s*'?(\w+)'?[^}]*\)\s*\}\}""")
    val m = p.matcher(sqlText)
    if (m.find()) Some(m.group(1).equalsIgnoreCase("true")) else None
  }

  /** Upstream names referenced by the template: `ref('x')` contributes
    * `x`; `source('s','t')` contributes `t` (sources resolve by bare
    * table name through `DagRunner.run`'s resolve callback). Order of
    * first appearance, deduplicated.
    */
  def extractRefs(sqlText: String): Seq[String] = {
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val rm = refPat.matcher(sqlText)
    while (rm.find()) hits += rm.start -> rm.group(1)
    val rv = refVerPat.matcher(sqlText)
    while (rv.find()) hits += rv.start -> s"${rv.group(1)}.v${rv.group(2)}"
    val sm = sourcePat.matcher(sqlText)
    while (sm.find()) hits += sm.start -> sm.group(2)
    hits.sortBy(_._1).map(_._2).distinct.toSeq
  }

  /** Model tags declared in the `{{ config(...) }}` header —
    * `tags=['nightly', 'pii']` (list) or `tags='nightly'` (single).
    */
  private[graft] def extractTags(sqlText: String): Set[String] = {
    val out = Set.newBuilder[String]
    val m = configTagsPat.matcher(sqlText)
    while (m.find()) {
      val im = setItemPat.matcher(m.group(1))
      while (im.find()) out += im.group(1)
    }
    out.result()
  }

  /** `pre_hook` / `post_hook` declared in the config header — list or
    * single-string form, same single-quoted-item grammar as tags (hook
    * SQL with embedded single quotes belongs in the Scala Model API,
    * not the regex-scoped Jinja subset). Declaration order preserved.
    */
  private[graft] def extractHooks(sqlText: String, key: String): Seq[String] = {
    val pat = Pattern.compile(
      """\{\{\s*config\([^}]*?""" + key + """\s*=\s*(\[[^\]]*\]|'[^']*')[^}]*\)\s*\}\}""")
    val out = Seq.newBuilder[String]
    val m = pat.matcher(sqlText)
    while (m.find()) {
      val im = setItemPat.matcher(m.group(1))
      while (im.find()) out += im.group(1)
    }
    out.result()
  }

  // {% macro name(a, b=default) %} body {% endmacro %} — dbt's macro
  // authoring surface (a macros/ dir of reusable SQL snippets). The
  // supported subset is textual expansion: positional + keyword args,
  // declared defaults, `{{ param }}` interpolation in the body, and
  // macros calling other macros (bounded, recursion rejected). A quoted
  // argument passes its CONTENT (dbt: `{{ m('amount') }}` binds the
  // string amount; a body wanting a SQL literal writes '{{ p }}').
  private val macroPat = Pattern.compile(
    """\{%-?\s*macro\s+(\w+)\s*\(([^)]*)\)\s*-?%\}(.*?)\{%-?\s*endmacro\s*-?%\}""",
    Pattern.DOTALL)

  final case class MacroDef(name: String, params: Seq[(String, Option[String])], body: String)

  /** Parse and strip `{% macro %}` definitions; returns (defs, remaining
    * text). Params declare as `name` or `name=default`.
    */
  private[graft] def extractMacros(text: String): (Map[String, MacroDef], String) = {
    val defs = scala.collection.mutable.Map.empty[String, MacroDef]
    val m = macroPat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val params = m.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
        p.split("=", 2) match {
          case Array(n) => n.trim -> None
          case Array(n, d) => n.trim -> Some(stripQuotes(d.trim))
        }
      }
      require(!Set("ref", "source", "var", "config").contains(m.group(1)),
        s"macro name '${m.group(1)}' shadows a built-in template call")
      defs(m.group(1)) = MacroDef(m.group(1), params, m.group(3).trim)
      m.appendReplacement(sb, "")
    }
    m.appendTail(sb)
    (defs.toMap, sb.toString)
  }

  private[graft] def stripQuotes(v: String): String =
    if (v.length >= 2 && ((v.head == '\'' && v.last == '\'') ||
        (v.head == '"' && v.last == '"'))) v.substring(1, v.length - 1)
    else v

  /** Split a macro call's argument text on top-level commas (commas
    * inside quotes, nested parens, or list brackets don't split — a
    * Jinja list literal like `['a', 'b']` is ONE argument).
    */
  private[graft] def splitArgs(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var quote: Char = 0
    var depth = 0
    s.foreach { c =>
      if (quote != 0) { cur.append(c); if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') { cur.append(c); quote = c }
      else if (c == '(' || c == '[') { cur.append(c); depth += 1 }
      else if (c == ')' || c == ']') { cur.append(c); depth -= 1 }
      else if (c == ',' && depth == 0) { out += cur.toString; cur.setLength(0) }
      else cur.append(c)
    }
    if (cur.toString.trim.nonEmpty || out.nonEmpty) out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Parse a Jinja list-literal argument (`['a', 'b']`) into its items;
    * items keep their raw text (quotes stripped by the caller as needed).
    * Package natives ([[Packages]]) take list args — dbt_utils'
    * `generate_surrogate_key(['a','b'])` shape.
    */
  private[graft] def parseListArg(arg: String): Seq[String] = {
    val t = arg.trim
    require(t.startsWith("[") && t.endsWith("]"),
      s"expected a Jinja list literal ['..', ..], got: $arg")
    splitArgs(t.substring(1, t.length - 1))
  }

  /** Parse a `{{ name( balanced-args ) }}` call site starting at the
    * `{{` at index `open`; quote- and paren-aware, so an argument may
    * itself be a call (`ref('x')` — the dbt idiom for passing a
    * relation). The name may be DOTTED (`dbt_utils.date_spine`) — a
    * package-qualified macro call. Returns (name, args, index just past
    * the closing braces).
    */
  private def parseCall(s: String, open: Int): Option[(String, Seq[String], Int)] = {
    var i = open + 2
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    val ns = i
    while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' ||
      s.charAt(i) == '.')) i += 1
    if (i == ns) return None
    val name = s.substring(ns, i)
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    if (i >= s.length || s.charAt(i) != '(') return None
    i += 1
    val argStart = i
    var depth = 1
    var quote: Char = 0
    while (i < s.length && depth > 0) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      i += 1
    }
    if (depth != 0) return None
    val argsRaw = s.substring(argStart, i - 1)
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    if (i + 1 < s.length + 1 && i + 2 <= s.length && s.charAt(i) == '}' && s.charAt(i + 1) == '}')
      Some((name, splitArgs(argsRaw), i + 2))
    else None
  }

  /** Expand every `{{ name(...) }}` call site whose name is a known
    * macro, repeatedly (macros may call macros), bounded — a recursive
    * macro is a template bug and must fail loudly, not loop.
    *
    * `natives` are Scala-implemented package macros ([[Packages]]) whose
    * arguments need structure a textual macro can't bind (Jinja list
    * literals — dbt_utils' `pivot`/`generate_surrogate_key` shapes);
    * text macros take precedence over a same-named native (a project
    * macro shadows a package macro, dbt's dispatch order).
    */
  private[graft] def expandMacros(text: String, macros: Map[String, MacroDef],
                                  natives: Map[String, Seq[String] => String] = Map.empty): String = {
    if (macros.isEmpty && natives.isEmpty) return text
    var cur = text
    var rounds = 0
    var changed = true
    while (changed) {
      changed = false
      rounds += 1
      require(rounds <= 20, s"macro expansion exceeded 20 rounds — recursive macro? " +
        s"(defined: ${(macros.keys ++ natives.keys).toSeq.sorted.mkString(", ")})")
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < cur.length) {
        val open = cur.indexOf("{{", i)
        if (open < 0) { sb.append(cur.substring(i)); i = cur.length }
        else {
          sb.append(cur.substring(i, open))
          parseCall(cur, open) match {
            case Some((name, args, end)) if macros.contains(name) =>
              sb.append(applyMacro(macros(name), args, macros))
              changed = true
              i = end
            case Some((name, args, end)) if natives.contains(name) =>
              sb.append(natives(name)(args))
              changed = true
              i = end
            case _ => sb.append("{{"); i = open + 2
          }
        }
      }
      cur = sb.toString
    }
    cur
  }

  private def applyMacro(d: MacroDef, args: Seq[String],
                         macros: Map[String, MacroDef]): String = {
    val (kwArgs, posArgs) = args.partition(a =>
      a.matches("""(?s)\w+\s*=.*""") && !a.takeWhile(_ != '=').contains('\''))
    require(posArgs.size <= d.params.size,
      s"macro ${d.name}: ${posArgs.size} positional args for ${d.params.size} params")
    // A quoted arg binds its CONTENT (dbt: strings name columns or
    // relations); a builtin template call (`ref('x')`) re-wraps into
    // `{{ ref('x') }}` so downstream rendering resolves it — the dbt
    // idiom `{{ my_macro(ref('events')) }}`.
    def bindVal(v: String): String = {
      val t = v.trim
      if (t.matches("""(?s)(ref|source|var)\s*\(.*\)""")) s"{{ $t }}" else stripQuotes(t)
    }
    val bound = scala.collection.mutable.Map.empty[String, String]
    posArgs.zip(d.params).foreach { case (v, (n, _)) => bound(n) = bindVal(v) }
    kwArgs.foreach { a =>
      val Array(n, v) = a.split("=", 2)
      require(d.params.exists(_._1 == n.trim),
        s"macro ${d.name}: unknown keyword arg '${n.trim}'")
      bound(n.trim) = bindVal(v)
    }
    d.params.foreach { case (n, default) =>
      if (!bound.contains(n)) {
        require(default.isDefined, s"macro ${d.name}: missing required arg '$n'")
        bound(n) = default.get
      }
    }
    val substituted = d.params.foldLeft(d.body) { case (b, (n, _)) =>
      b.replaceAll("""\{\{\s*""" + Pattern.quote(n) + """\s*\}\}""",
        Matcher.quoteReplacement(bound(n)))
    }
    rewriteNestedArgs(substituted, bound.toMap, macros)
  }

  /** In a macro body, a nested macro call may pass the enclosing
    * macro's params by NAME (`{{ pct(n, d) }}` inside pct's caller —
    * Jinja evaluates args as expressions, so a bare param token means
    * its value). Substitute those before the next expansion round binds
    * them as literal text.
    */
  private def rewriteNestedArgs(body: String, bound: Map[String, String],
                                macros: Map[String, MacroDef]): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < body.length) {
      val open = body.indexOf("{{", i)
      if (open < 0) { sb.append(body.substring(i)); i = body.length }
      else {
        sb.append(body.substring(i, open))
        parseCall(body, open) match {
          case Some((name, args, end)) if macros.contains(name) =>
            val rewritten = args.map { a =>
              a.split("=", 2) match {
                case Array(k, v) if a.matches("""(?s)\w+\s*=.*""") &&
                    bound.contains(v.trim) => s"${k.trim}=${bound(v.trim)}"
                case _ => bound.getOrElse(a.trim, a)
              }
            }
            sb.append(s"{{ $name(${rewritten.mkString(", ")}) }}")
            i = end
          case _ => sb.append("{{"); i = open + 2
        }
      }
    }
    sb.toString
  }

  /** dbt `run-operation`: invoke one macro standalone with `--args`
    * (the maintenance idiom — grants, audit inserts, cleanup DDL) and
    * run the rendered SQL on the session. Arguments bind by keyword,
    * exactly dbt's YAML `--args` form; the macro's declared defaults
    * fill the rest. Returns the statement's result frame.
    */
  def runOperation(spark: SparkSession, macrosText: String, name: String,
                   args: Map[String, String] = Map.empty): DataFrame = {
    val (defs, _) = extractMacros(macrosText)
    require(defs.contains(name),
      s"run-operation: no macro named '$name' (defined: ${defs.keys.toSeq.sorted.mkString(", ")})")
    val call = s"{{ $name(${args.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k='$v'" }.mkString(", ")}) }}"
    spark.sql(expandMacros(call, defs))
  }

  // ===== General Jinja conditionals ======================================
  // {% if EXPR %} ... {% elif EXPR %} ... {% else %} ... {% endif %},
  // nested, with var()/target in conditions — the next most common real-
  // dbt idiom after is_incremental() (feature-flag CTEs, per-target
  // behavior switches). Resolved at PARSE time: vars and target are
  // parse-time bindings, so the fingerprint of the rendered text changes
  // exactly when a var flips a branch (dbt state:modified hashes compiled
  // SQL for the same reason). `is_incremental()` stays the one BUILD-time
  // construct: a block whose condition is exactly `is_incremental()`
  // re-emits (bodies rendered) for renderConditionals to resolve against
  // the build target.

  sealed private trait JVal
  private final case class JStr(v: String) extends JVal
  private final case class JNum(v: Double) extends JVal
  private final case class JBool(v: Boolean) extends JVal
  private case object JNone extends JVal

  /** Jinja truthiness: undefined/none, empty string, 0 and false are
    * falsy; everything else truthy.
    */
  private def truthy(v: JVal): Boolean = v match {
    case JStr(s) => s.nonEmpty
    case JNum(n) => n != 0.0
    case JBool(b) => b
    case JNone => false
  }

  /** Strict cross-type equality (Jinja: `'1' == 1` is false). */
  private def jeq(a: JVal, b: JVal): Boolean = (a, b) match {
    case (JStr(x), JStr(y)) => x == y
    case (JNum(x), JNum(y)) => x == y
    case (JBool(x), JBool(y)) => x == y
    case (JNone, JNone) => true
    case _ => false
  }

  /** Evaluate a Jinja condition subset: `or`/`and`/`not`, `==`/`!=`,
    * parentheses, string/number/true/false/none literals,
    * `var('x'[, default])` and `target.name`. A var's value is its RAW
    * bound string (the same text `{{ var('x') }}` would substitute), so
    * `var('region') == 'eu'` tests the binding verbatim. An unbound var
    * without a declared default throws — dbt raises a compilation error
    * there, and a silently-falsy typo'd var name would ship the wrong
    * branch.
    */
  private[graft] def evalCond(cond: String, vars: Map[String, String],
                              target: String): Boolean = {
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < cond.length) {
      val c = cond.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val j = cond.indexOf(c, i + 1)
        require(j >= 0, s"unterminated string in condition: $cond")
        toks += cond.substring(i, j + 1)
        i = j + 1
      } else if (c == '(' || c == ')' || c == ',') { toks += c.toString; i += 1 }
      else if (c == '=' && i + 1 < cond.length && cond.charAt(i + 1) == '=') { toks += "=="; i += 2 }
      else if (c == '!' && i + 1 < cond.length && cond.charAt(i + 1) == '=') { toks += "!="; i += 2 }
      else if (c.isDigit || (c == '-' && i + 1 < cond.length && cond.charAt(i + 1).isDigit)) {
        val j0 = i
        i += 1
        while (i < cond.length && (cond.charAt(i).isDigit || cond.charAt(i) == '.')) i += 1
        toks += cond.substring(j0, i)
      } else if (c.isLetter || c == '_') {
        val j0 = i
        while (i < cond.length && (cond.charAt(i).isLetterOrDigit ||
          cond.charAt(i) == '_' || cond.charAt(i) == '.')) i += 1
        toks += cond.substring(j0, i)
      } else throw new IllegalArgumentException(s"unexpected '$c' in condition: $cond")
    }
    var p = 0
    def peek: Option[String] = if (p < toks.length) Some(toks(p)) else None
    def next(): String = {
      require(p < toks.length, s"condition ended unexpectedly: $cond")
      val t = toks(p); p += 1; t
    }
    def atom(): JVal = next() match {
      case "(" =>
        val v = orExpr()
        require(next() == ")", s"expected ')' in condition: $cond")
        v
      case "true" | "True" => JBool(true)
      case "false" | "False" => JBool(false)
      case "none" | "None" => JNone
      case "is_incremental" => throw new IllegalArgumentException(
        "is_incremental() may only appear ALONE as the whole condition " +
          "(it is a build-time construct; combine branches instead)")
      case "var" =>
        require(next() == "(", s"var requires parentheses: $cond")
        val name = stripQuotes(next())
        val default: Option[JVal] =
          if (peek.contains(",")) { next(); Some(orExpr()) } else None
        require(next() == ")", s"var: expected ')': $cond")
        vars.get(name).map(JStr(_): JVal).orElse(default).getOrElse(
          throw new IllegalArgumentException(
            s"unbound var '$name' in condition (bound: ${vars.keys.toSeq.sorted.mkString(", ")})"))
      case "env_var" =>
        require(next() == "(", s"env_var requires parentheses: $cond")
        val name = stripQuotes(next())
        val default: Option[JVal] =
          if (peek.contains(",")) { next(); Some(orExpr()) } else None
        require(next() == ")", s"env_var: expected ')': $cond")
        sys.env.get(name).map(JStr(_): JVal).orElse(default).getOrElse(
          throw new IllegalArgumentException(
            s"env_var '$name' is not set and has no default (condition: $cond)"))
      case "target.name" => JStr(target)
      case t if t.startsWith("'") || t.startsWith("\"") => JStr(stripQuotes(t))
      case t if t.headOption.exists(c => c.isDigit || c == '-') => JNum(t.toDouble)
      case t => throw new IllegalArgumentException(
        s"unsupported token '$t' in condition: $cond")
    }
    // Precedence (Jinja/Python): comparison > not > and > or.
    def cmpExpr(): JVal = {
      val l = atom()
      peek match {
        case Some("==") => next(); JBool(jeq(l, atom()))
        case Some("!=") => next(); JBool(!jeq(l, atom()))
        case Some("is") =>
          // Jinja's `X is none` / `X is not none` test — the form dbt's
          // generate_schema_name/generate_alias_name overrides use.
          next()
          val neg = if (peek.contains("not")) { next(); true } else false
          val t = next()
          require(t == "none" || t == "None",
            s"only 'is [not] none' is supported: $cond")
          JBool((l == JNone) ^ neg)
        case _ => l
      }
    }
    def notExpr(): JVal =
      if (peek.contains("not")) { next(); JBool(!truthy(notExpr())) } else cmpExpr()
    def andExpr(): JVal = {
      var v = notExpr()
      while (peek.contains("and")) { next(); val r = notExpr(); v = JBool(truthy(v) && truthy(r)) }
      v
    }
    def orExpr(): JVal = {
      var v = andExpr()
      while (peek.contains("or")) { next(); val r = andExpr(); v = JBool(truthy(v) || truthy(r)) }
      v
    }
    val out = orExpr()
    require(p == toks.length, s"trailing tokens in condition: $cond")
    truthy(out)
  }

  private val ifTagPat = Pattern.compile(
    """\{%-?\s*(if|elif|else|endif)\b(.*?)-?%\}""", Pattern.DOTALL)

  /** Expand nested if/elif/else blocks; see the section comment above
    * for semantics. Dropped branches disappear entirely (their
    * `{% set %}`/`{{ ref() }}` calls never bind or contribute DAG
    * edges — correct Jinja evaluation order, since this runs before
    * set-list extraction and ref extraction).
    */
  private[graft] def expandIfBlocks(text: String, vars: Map[String, String],
                                    target: String): String = {
    final case class Tag(kind: String, cond: String, start: Int, end: Int)
    val tags = {
      val b = Vector.newBuilder[Tag]
      val m = ifTagPat.matcher(text)
      while (m.find()) b += Tag(m.group(1), m.group(2).trim, m.start, m.end)
      b.result()
    }
    if (tags.isEmpty) return text
    var ti = 0
    // Renders from `pos`; consumes tags as it goes. Inside a block
    // (stop=true) returns at the first elif/else/endif at this nesting
    // level (tag consumed, returned); at top level runs to end of input.
    def renderUntil(pos: Int, stop: Boolean): (String, Option[Tag]) = {
      val sb = new java.lang.StringBuilder
      var cur = pos
      while (true) {
        // Skip tags lexically before `cur` — they belonged to an inner
        // block whose text a recursive call already consumed.
        while (ti < tags.length && tags(ti).start < cur) ti += 1
        if (ti >= tags.length) {
          require(!stop, "unterminated {% if %} block")
          sb.append(text.substring(cur))
          return (sb.toString, None)
        }
        val t = tags(ti)
        sb.append(text.substring(cur, t.start))
        t.kind match {
          case "if" =>
            ti += 1
            val (rendered, after) = renderIf(t)
            sb.append(rendered)
            cur = after
          case other =>
            require(stop, s"stray {% $other %} without a matching {% if %}")
            ti += 1
            return (sb.toString, Some(t))
        }
      }
      sys.error("unreachable")
    }
    // Called with ti just past the opening if tag; returns (rendered
    // replacement, index just past the matching endif).
    def renderIf(open: Tag): (String, Int) = {
      var branches = Vector.empty[(Option[String], String)]
      var curCond: Option[String] = Some(open.cond)
      var pos = open.end
      var endPos = -1
      var sawElse = false
      var done = false
      while (!done) {
        val (body, stopTag) = renderUntil(pos, stop = true)
        branches :+= (curCond, body)
        val st = stopTag.getOrElse(sys.error("unterminated {% if %} block"))
        st.kind match {
          case "endif" => endPos = st.end; done = true
          case "elif" =>
            require(!sawElse, s"{% elif %} after {% else %}: ${open.cond}")
            curCond = Some(st.cond); pos = st.end
          case "else" =>
            require(!sawElse, s"duplicate {% else %}: ${open.cond}")
            sawElse = true; curCond = None; pos = st.end
          case k => sys.error(s"unreachable stop tag $k")
        }
      }
      if (open.cond.replaceAll("\\s", "") == "is_incremental()") {
        require(branches.size <= 2 && branches.tail.forall(_._1.isEmpty),
          "{% elif %} is not supported with an is_incremental() condition")
        val sb = new java.lang.StringBuilder("{% if is_incremental() %}")
        sb.append(branches.head._2)
        if (branches.size == 2) sb.append("{% else %}").append(branches(1)._2)
        sb.append("{% endif %}")
        (sb.toString, endPos)
      } else {
        val chosen = branches.collectFirst {
          case (Some(c), body) if evalCond(c, vars, target) => body
          case (None, body) => body
        }.getOrElse("")
        (chosen, endPos)
      }
    }
    val (out, _) = renderUntil(0, stop = false)
    out
  }

  /** Parse and strip `{% set name = [...] %}` blocks; returns the list
    * bindings and the text with the blocks removed. Items keep their raw
    * content (which may itself contain `{{ var("x") }}` calls — those
    * substitute AFTER join interpolation, so a var value containing
    * single quotes, e.g. `DATE '2021-01-20'`, can never confuse the
    * item parser).
    */
  private[graft] def extractSetLists(sqlText: String): (Map[String, Seq[String]], String) = {
    val lists = scala.collection.mutable.Map.empty[String, Seq[String]]
    val m = setListPat.matcher(sqlText)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val items = scala.collection.mutable.ArrayBuffer.empty[String]
      val im = setItemPat.matcher(m.group(2))
      while (im.find()) items += im.group(1)
      lists(m.group(1)) = items.toSeq
      m.appendReplacement(sb, "")
    }
    m.appendTail(sb)
    (lists.toMap, sb.toString)
  }

  /** Render the template: strip `{% set %}` blocks and config headers,
    * interpolate `{{ list | join(sep) }}` call sites, substitute vars,
    * and rewrite every ref/source call site to its registered view name.
    * Throws on an unbound `var` or an unknown list in a `join` — silently
    * leaving template calls in SQL text produces an unhelpful parser
    * error downstream.
    */
  // {% for v in list %} body {% endfor %} — the pivot-column generator
  // idiom (dbt models stamp out per-category CASE aggregates this way).
  // The loop variable substitutes via {{ v }}; the separator idiom
  // `{{ ',' if not loop.last }}` and `{{ loop.index }}`/`{{ loop.index0 }}`
  // are supported; loops iterate over {% set %} lists or over a list-
  // valued var() (the dbt-tutorial `{% for m in var('methods') %}`).
  private val forPat = Pattern.compile(
    """\{%-?\s*for\s+(\w+)\s+in\s+(\w+|var\(\s*'[^']+'\s*\))\s*-?%\}(.*?)\{%-?\s*endfor\s*-?%\}""",
    Pattern.DOTALL)
  private val loopLastCondPat = Pattern.compile(
    """\{\{\s*'([^']*)'\s*if\s+not\s+loop\.last\s*\}\}|\{\{\s*"([^"]*)"\s*if\s+not\s+loop\.last\s*\}\}""")
  private val loopIndexPat = Pattern.compile("""\{\{\s*loop\.index(0?)\s*\}\}""")
  private val forVarPat = Pattern.compile("""var\(\s*'([^']+)'\s*\)""")

  /** A var value as a list. Items parse either from their Jinja-quoted
    * form (`['a', 'b']` — a --vars CLI string) or, when no quoted item
    * is present, from the bare `[a, b]` shape that
    * `String.valueOf(java.util.List)` gives a YAML list var from
    * dbt_project.yml.
    */
  private def varAsList(name: String, raw: String): Seq[String] = {
    val quoted = {
      val im = setItemPat.matcher(raw)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (im.find()) out += im.group(1)
      out.toSeq
    }
    if (quoted.nonEmpty) quoted
    else {
      val t = raw.trim
      require(t.startsWith("[") && t.endsWith("]"),
        s"var '$name' = '$raw' is not a list — a for loop needs a " +
          "['a', 'b'] literal or a YAML list var")
      t.substring(1, t.length - 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  private def expandForLoops(text: String, setLists: Map[String, Seq[String]],
                             vars: Map[String, String]): String = {
    val m = forPat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val (v, iterable, body) = (m.group(1), m.group(2), m.group(3))
      val vm = forVarPat.matcher(iterable)
      val items =
        if (vm.matches()) {
          val name = vm.group(1)
          varAsList(name, vars.getOrElse(name, throw new IllegalArgumentException(
            s"unbound var '$name' in for loop (bound: ${vars.keys.toSeq.sorted.mkString(", ")})")))
        } else setLists.getOrElse(iterable, throw new IllegalArgumentException(
          s"unknown list '$iterable' in for loop (defined: ${setLists.keys.toSeq.sorted.mkString(", ")})"))
      val rendered = items.zipWithIndex.map { case (item, i) =>
        val last = i == items.size - 1
        val withVar = Pattern.compile("""\{\{\s*""" + Pattern.quote(v) + """\s*\}\}""")
          .matcher(body).replaceAll(Matcher.quoteReplacement(item))
        val withIdx = loopIndexPat.matcher(withVar)
          .replaceAll(mm => Matcher.quoteReplacement(
            (if (mm.group(1).isEmpty) i + 1 else i).toString))
        loopLastCondPat.matcher(withIdx).replaceAll { mm =>
          val lit = Option(mm.group(1)).getOrElse(mm.group(2))
          Matcher.quoteReplacement(if (last) "" else lit)
        }
      }.mkString("")
      m.appendReplacement(sb, Matcher.quoteReplacement(rendered))
    }
    m.appendTail(sb)
    val out = sb.toString
    // An unmatched tag (a `{% for %}` missing its endfor, a stray
    // endfor, or a NESTED loop — the non-greedy matcher pairs the outer
    // for with the inner endfor, leaving tags behind) must fail here,
    // not as an opaque SQL parse error downstream.
    val leftover = Pattern.compile("""\{%-?\s*(for\b|endfor)""").matcher(out)
    require(!leftover.find(),
      "unbalanced {% for %}/{% endfor %} after loop expansion — check for " +
        "an unterminated loop or nested for loops (not supported)")
    out
  }

  /** Substitute `{{ env_var('NAME'[, 'default']) }}` call sites from the
    * process environment. Missing + no default = dbt's compilation
    * error. Parse-time like var(): the fingerprint of the rendered text
    * changes when the environment flips a value, exactly as dbt's
    * state:modified sees it.
    */
  private[graft] def substituteEnvVars(text: String): String = {
    val m = envVarPat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val v = sys.env.get(m.group(1)).orElse(Option(m.group(2))).getOrElse(
        throw new IllegalArgumentException(
          s"env_var '${m.group(1)}' is not set and has no default " +
            "(dbt compilation error; pass a second argument to default)"))
      m.appendReplacement(sb, Matcher.quoteReplacement(v))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Substitute `{{ var('x') }}` call sites in a text fragment (throws
    * on unbound vars) — [[ProjectLoader]] renders partition-expression
    * list items with this before evaluating them.
    */
  private[graft] def substituteVars(text: String, vars: Map[String, String]): String = {
    val vm = varPat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (vm.find()) {
      val v = vars.getOrElse(vm.group(1), throw new IllegalArgumentException(
        s"unbound var '${vm.group(1)}' (bound: ${vars.keys.toSeq.sorted.mkString(", ")})"))
      vm.appendReplacement(sb, Matcher.quoteReplacement(v))
    }
    vm.appendTail(sb)
    sb.toString
  }

  private[engine] def render(sqlText: String, vars: Map[String, String],
                             target: String = "dev"): String = {
    // Conditionals expand FIRST (Jinja evaluates control flow top-down):
    // a {% set %} or ref() inside a dropped branch never binds.
    val withIfs = expandIfBlocks(sqlText, vars, target)
    val (setLists, noSets0) = extractSetLists(withIfs)
    val noSets = expandForLoops(noSets0, setLists, vars)
    val noConfig = configPat.matcher(noSets).replaceAll("")
    val jm = joinPat.matcher(noConfig)
    val jb = new java.lang.StringBuilder
    while (jm.find()) {
      val items = setLists.getOrElse(jm.group(1), throw new IllegalArgumentException(
        s"unknown list '${jm.group(1)}' in join filter (defined: ${setLists.keys.toSeq.sorted.mkString(", ")})"))
      jm.appendReplacement(jb, Matcher.quoteReplacement(items.mkString(jm.group(2))))
    }
    jm.appendTail(jb)
    val vm = varPat.matcher(jb.toString)
    val sb = new java.lang.StringBuilder
    while (vm.find()) {
      val v = vars.getOrElse(vm.group(1), throw new IllegalArgumentException(
        s"unbound var '${vm.group(1)}' in SQL model (bound: ${vars.keys.toSeq.sorted.mkString(", ")})"))
      vm.appendReplacement(sb, Matcher.quoteReplacement(v))
    }
    vm.appendTail(sb)
    // env_var AFTER var (a var value may itself carry an env_var call —
    // the CI-injected-credential idiom), before ref/source rewriting.
    val withEnv = substituteEnvVars(sb.toString)
    val renderedVer = refVerPat.matcher(withEnv)
      .replaceAll(m => Matcher.quoteReplacement(viewName(s"${m.group(1)}.v${m.group(2)}")))
    val rendered = refPat.matcher(renderedVer)
      .replaceAll(m => Matcher.quoteReplacement(viewName(m.group(1))))
    sourcePat.matcher(rendered)
      .replaceAll(m => Matcher.quoteReplacement(viewName(m.group(2))))
  }

  /** Resolve `{% if is_incremental() %}` blocks and `{{ this }}` call
    * sites against the runner's build-time target context. Exposed for
    * the spec; called from the model's build closure, where
    * `DagRunner.currentBuildTarget` is set.
    */
  private[graft] def renderConditionals(text: String, incremental: Boolean,
                                        thisPath: Option[String],
                                        thisRel: Option[String] = None): String = {
    val m = ifIncPat.matcher(text)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val keep = if (incremental) m.group(1) else Option(m.group(2)).getOrElse("")
      m.appendReplacement(sb, Matcher.quoteReplacement(keep))
    }
    m.appendTail(sb)
    val out = sb.toString
    if (!thisPat.matcher(out).find()) out
    else {
      // thisRel (a pre-rendered relation, e.g. a View model's temp-view
      // name — a view writes nothing to its warehouse path, so the path
      // form would scan a dir that does not exist) wins over the
      // default parquet-path rendering.
      val rel = thisRel.getOrElse {
        val p = thisPath.getOrElse(throw new IllegalArgumentException(
          "{{ this }} requires a warehouse-backed run (no target path in context)"))
        s"parquet.`$p`"
      }
      thisPat.matcher(out).replaceAll(Matcher.quoteReplacement(rel))
    }
  }

  /** Build a [[Model]] from SQL text. `refs` are extracted from the
    * template — the DAG edge list and the SQL body can never drift
    * apart (dbt's own property).
    */
  def fromSqlText(name: String, sqlText: String,
                  materialization: Materialization = View,
                  schema: Option[String] = None,
                  database: Option[String] = None,
                  alias: Option[String] = None,
                  vars: Map[String, String] = Map.empty,
                  /** Project-level macro definitions (dbt's `macros/`
                    * dir concatenated); the model text may also define
                    * its own inline. Expansion happens BEFORE ref/var
                    * rendering, so macro bodies can call `ref()` /
                    * `source()` / `var()` and contribute DAG edges.
                    */
                  macros: String = "",
                  /** dbt `target.name` — the profile target this render
                    * compiles against (`dev`, `prod`, `ci`), testable in
                    * `{% if %}` conditions.
                    */
                  target: String = "dev",
                  /** Package macro namespace (packages.yml — see
                    * [[Packages]]/[[ProjectLoader]]): pre-parsed defs
                    * keyed by BOTH `pkg.name` and the unqualified alias.
                    * Listed first so a project macro of the same name
                    * shadows the unqualified alias (dbt dispatch order);
                    * the qualified key stays reachable.
                    */
                  packageMacros: Map[String, MacroDef] = Map.empty,
                  /** Scala-implemented package macros (list-literal
                    * args); text macros shadow a same-named native.
                    */
                  nativeMacros: Map[String, Seq[String] => String] = Map.empty): Model = {
    val (projectMacros, _) = extractMacros(macros)
    val (inlineMacros, strippedText) = extractMacros(sqlText)
    val expanded = expandMacros(strippedText,
      packageMacros ++ projectMacros ++ inlineMacros, nativeMacros)
    // Refs extract from the CONDITIONAL-RESOLVED text: a ref inside a
    // dropped {% if %} branch contributes no DAG edge (dbt parses
    // rendered Jinja the same way).
    val refs = extractRefs(expandIfBlocks(expanded, vars, target))
    val rendered = render(expanded, vars, target)
    // dbt declares materialization IN the file's config header; honor
    // view/table/ephemeral from there (the parameterized strategies —
    // incremental, merge — carry runtime-computed arguments and stay
    // caller-declared). A caller arg that CONTRADICTS the header is a
    // drift bug, not a tie to break silently.
    val headerMat: Option[Materialization] =
      configStr(sqlText, "materialized").collect {
        case "view" => View
        case "table" => Table
        case "ephemeral" => Ephemeral
      }
    val mat = headerMat match {
      case Some(h) if materialization == View => h
      case Some(h) =>
        require(h == materialization,
          s"model $name: config header declares materialized='${configStr(sqlText, "materialized").get}' " +
            s"but the caller passed $materialization")
        h
      case None => materialization
    }
    // Routing: an explicit caller arg wins; the config header fills gaps.
    val sch = schema.orElse(configStr(sqlText, "schema"))
    val db = database.orElse(configStr(sqlText, "database"))
    // Fingerprint the RENDERED text: a var change (e.g. a new partition
    // window) modifies the model exactly as an edit does — dbt's
    // state:modified hashes compiled SQL for the same reason.
    // is_incremental() blocks are fingerprinted UNRESOLVED (both
    // branches), so the identity is stable across first-run vs
    // incremental-run renders of the same text.
    val fp = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Model(name, refs,
      (spark: SparkSession, resolved: Map[String, DataFrame]) => {
        // Register views from the RESOLVED map, not the captured refs:
        // DagRunner.resolveVersionRefs may have rewritten an unpinned
        // ref('family') edge to the latest `family.vN` node, in which
        // case the rendered SQL still reads the UNPINNED view name —
        // answer it with the version-resolved frame too. The alias keys
        // on the CAPTURED (pre-rewrite) refs containing the bare family
        // name — the model's own text had an unpinned ref — not on
        // whether the vN key is absent from refs: a model with BOTH
        // ref('family') and ref('family', v=latest) collapses to one
        // resolved key that IS in refs, yet still needs the alias. When
        // several versions of a family resolve (pinned v1 + unpinned →
        // v2), the alias takes the HIGHEST version present — the
        // unpinned edge's target (project-wide latest) is always the
        // max among this model's resolved family nodes.
        val verKey = """^(.*)\.v(\d+)$""".r
        resolved.foreach { case (r, df) => df.createOrReplaceTempView(viewName(r)) }
        resolved.keys.toSeq.collect { case r @ verKey(base, v) => (base, v.toInt, r) }
          .groupBy(_._1)
          .foreach { case (base, vs) =>
            if (refs.contains(base) && !resolved.contains(base))
              resolved(vs.maxBy(_._2)._3).createOrReplaceTempView(viewName(base))
          }
        val ctx = DagRunner.currentBuildTarget
        val finalSql = renderConditionals(rendered,
          incremental = ctx.exists(c => c.incremental && c.exists),
          thisPath = ctx.flatMap(_.path))
        // Warehouse-introspection macros (dbt_utils.star /
        // get_column_values) deferred to this moment, where every ref
        // is a registered temp view ([[CatalogMacros]]).
        FusionRules.setup(spark)
        spark.sql(CatalogMacros.expand(spark, finalSql))
      },
      mat, sch, db, alias = alias, fingerprint = Some(fp),
      tags = extractTags(sqlText),
      preHooks = extractHooks(sqlText, "pre_hook"),
      postHooks = extractHooks(sqlText, "post_hook"),
      compiledSql = Some(rendered),
      onSchemaChange = configStr(sqlText, "on_schema_change").getOrElse("ignore"))
  }

  /** Load the SQL text from a classpath resource (the engine's analog of
    * dbt's `models/` directory — `.sql` files shipped under
    * `src/main/resources`); model name defaults to the file basename,
    * exactly like dbt.
    */
  def fromResource(resourcePath: String,
                   materialization: Materialization = View,
                   schema: Option[String] = None,
                   database: Option[String] = None,
                   vars: Map[String, String] = Map.empty,
                   target: String = "dev"): Model = {
    val in = getClass.getClassLoader.getResourceAsStream(resourcePath)
    require(in != null, s"SQL model resource not found: $resourcePath")
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val base = resourcePath.split('/').last.stripSuffix(".sql")
    fromSqlText(base, text, materialization, schema, database,
      vars = vars, target = target)
  }
}
