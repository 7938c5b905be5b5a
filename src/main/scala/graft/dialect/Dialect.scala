package graft.dialect

/** Postgres → Spark SQL dialect fix-ups applied to verbatim rule SQL before
  * it reaches `spark.sql` (SURVEY.md §7.1 "dialect" module).
  *
  * The rebuild registers each `schema.table` as a temp view named
  * `schema_table`; inside statements, tables are exposed under their bare
  * name via `schema_table AS table` (mirroring Postgres, where
  * `FROM cerner.foo` makes both `foo.id` and `cerner.foo.id` resolvable).
  * [[qualify]] therefore rewrites:
  *   - `schema.table.col` → `table.col`   (the alias carries the reference)
  *   - `schema.table`     → `schema_table AS table`  (FROM position)
  * String literals are left untouched.
  */
object Dialect {

  val KnownSchemas: Set[String] = Set("cerner", "omop", "mapping", "external")

  /** Rewrite schema-qualified names against the view-per-schema-table naming
    * scheme. `schemas` = the schema names in force (KnownSchemas plus any
    * custom default schema).
    */
  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Words that can follow a FROM-item without being its alias — if one of
    * these is the next token after a qualified table, the table carried no
    * alias of its own and [[qualify]] appends `AS <table>`. */
  private val postTableKeywords = Set(
    "where", "group", "order", "having", "limit", "offset", "union",
    "intersect", "except", "left", "right", "inner", "outer", "full",
    "cross", "join", "on", "using", "when", "then", "else", "end", "and",
    "or", "set", "from", "window", "values", "natural", "returning",
    "tablesample", "fetch", "for", "lateral", "pivot", "unpivot", "semi",
    "anti", "qualify")

  def qualify(sql: String, schemas: Set[String]): String = {
    val qualified = ("(?i)\\b(" + schemas.mkString("|") + ")\\.(\\w+)(\\.(?:\\w+|\\*))").r
    val bare = ("(?i)\\b(" + schemas.mkString("|") + ")\\.(\\w+)").r
    val aliasAfter = "(?is)^\\s+(?:as\\s+)?([a-zA-Z_]\\w*)".r
    mapOutsideLiterals(sql) { seg =>
      val step1 = qualified.replaceAllIn(seg, m => s"${m.group(2)}${m.group(3)}")
      bare.replaceAllIn(step1, m => {
        // `cerner.foo f` / `cerner.foo AS f` already carry an alias —
        // appending ours would emit the unparseable `cerner_foo AS foo f`
        val hasOwnAlias = aliasAfter.findFirstMatchIn(m.after.toString)
          .exists(x => !postTableKeywords.contains(x.group(1).toLowerCase))
        if (hasOwnAlias) s"${m.group(1)}_${m.group(2)}"
        else s"${m.group(1)}_${m.group(2)} AS ${m.group(2)}"
      })
    }
  }

  /** Postgres `SELECT DISTINCT ON (k…) cols FROM … [WHERE …] [ORDER BY o…]`
    * (first row per key; `validation/location.yaml:14-29`) → ranked-window
    * subquery. Spark has no DISTINCT ON; the window form keeps the same
    * first-row-per-key-in-order semantics. Applied per top-level UNION
    * branch (`location.yaml` unions two DISTINCT ON selects). Where Postgres
    * leaves the surviving row arbitrary (no/partial ORDER BY), simple
    * select-list columns are appended as tie-breakers so the pick is
    * deterministic — a legal refinement of the arbitrary choice.
    */
  def rewriteDistinctOn(sql: String): String = {
    val (parts, seps) = splitTopLevelUnion(sql)
    val rewritten = parts.map(rewriteDistinctOnBranch)
    rewritten.head + seps.zip(rewritten.tail).map { case (s, p) => s" $s $p" }.mkString
  }

  /** Depth-aware branch rewrite: the key list may contain nested calls
    * (`DISTINCT ON (substring(zip, 1, 3))`) and the select list may contain
    * function-call commas, so the pieces are located by reading [[scan]]
    * ([[matchingParen]], [[topLevelKeyword]], [[splitTopLevel]]) rather
    * than regex groups.
    */
  private def rewriteDistinctOnBranch(sql: String): String = {
    "(?is)^\\s*select\\s+distinct\\s+on\\s*\\(".r.findFirstMatchIn(sql) match {
      case None => sql
      case Some(pre) =>
        val open = pre.end - 1
        val close = matchingParen(sql, open)
        if (close < 0) return sql
        val keys = sql.substring(open + 1, close).trim
        val rest = sql.substring(close + 1)
        val fromIdx = topLevelKeyword(rest, "FROM").headOption.getOrElse(-1)
        if (fromIdx < 0) return sql
        val selectList = rest.substring(0, fromIdx).trim.stripSuffix(",")
        val afterSelect = rest.substring(fromIdx)
        val obIdx = topLevelKeyword(afterSelect, "ORDER").headOption.getOrElse(-1)
        val (fromPart, explicit) =
          if (obIdx < 0) (afterSelect.trim, None)
          else {
            val ob = "(?is)^order\\s+by\\s+".r.findFirstMatchIn(afterSelect.substring(obIdx))
            ob match {
              case Some(m) =>
                (afterSelect.substring(0, obIdx).trim,
                  Some(afterSelect.substring(obIdx + m.end).trim).filter(_.nonEmpty))
              case None => (afterSelect.trim, None)
            }
          }
        // Tie-breakers: simple column refs from the select list make the
        // arbitrary-survivor pick deterministic; computed entries are skipped
        // (they may not be ORDER-BY-stable expressions).
        val entries = splitTopLevel(selectList, ',').map(_.trim)
        // `*` would expand the subquery's output INCLUDING __rn — the
        // rewrite cannot name the base columns textually, so fail loud
        // instead of silently emitting an extra column
        if (entries.exists(e => e == "*" || e.endsWith(".*")))
          throw new IllegalArgumentException(
            "DISTINCT ON with a * select list is not translatable (the " +
              "ranked-window rewrite would leak its __rn column) — list " +
              "the columns explicitly")
        val tieBreak = entries.filter(_.matches("[\\w.]+"))
        val orderBy = (explicit.getOrElse(keys) +: tieBreak).distinct.mkString(", ")
        // outer list references the subquery's OUTPUT names: the alias if
        // one is given, the unqualified column for `t.k`-style refs (the
        // subquery flattens table qualifiers — repeating `t.k` outside
        // would not resolve); an unaliased computed entry falls back to
        // repeating the expression, which resolves only when its inputs
        // are themselves selected — alias computed entries
        val aliasRe = "(?is)\\s+as\\s+([a-zA-Z_]\\w*)\\s*$".r
        val outerList = entries.map { e =>
          aliasRe.findFirstMatchIn(e).map(_.group(1)).getOrElse(
            if (e.matches("[\\w.]+")) e.split("\\.").last else e)
        }.mkString(", ")
        s"""SELECT $outerList FROM (
           |  SELECT $selectList, row_number() OVER (PARTITION BY $keys ORDER BY $orderBy) AS __rn
           |  $fromPart
           |) WHERE __rn = 1""".stripMargin
    }
  }

  /** Marks a char of a quoted region in [[scan]]'s output. */
  private final val Quoted = Int.MinValue

  /** The one quote- and paren-aware pass every structural question reads:
    * for each char of `sql`, [[Quoted]] if it belongs to a string literal,
    * a `"…"` identifier or a `` `…` `` identifier (delimiters included),
    * else its paren depth. A doubled delimiter (`''`, `""`) closes and
    * reopens its region, so it stays quoted as an escape would; an
    * unterminated region runs to the end of the text. A `(` and its
    * matching `)` carry the depth outside them, so a top-level char has
    * depth 0.
    */
  private def scan(sql: String): Array[Int] = {
    val out = new Array[Int](sql.length)
    var depth = 0
    var quote: Char = 0
    for (i <- sql.indices) {
      val c = sql.charAt(i)
      if (quote != 0) {
        out(i) = Quoted
        if (c == quote) quote = 0
      } else if (c == '\'' || c == '"' || c == '`') {
        out(i) = Quoted
        quote = c
      } else {
        if (c == ')') depth -= 1
        out(i) = depth
        if (c == '(') depth += 1
      }
    }
    out
  }

  /** Index of the `)` matching the `(` at `open`, or -1. */
  private def matchingParen(sql: String, open: Int): Int = {
    val d = scan(sql)
    (open + 1 until sql.length).find(i => sql.charAt(i) == ')' && d(i) == d(open)).getOrElse(-1)
  }

  /** Every word-boundary occurrence of `kw` at paren depth 0
    * outside quoted regions, matched case-insensitively, in order.
    */
  private def topLevelKeyword(sql: String, kw: String): Seq[Int] = {
    val d = scan(sql)
    def boundary(i: Int) = i < 0 || i >= sql.length || !isIdentChar(sql.charAt(i))
    sql.indices.filter(i => d(i) == 0 && sql.regionMatches(true, i, kw, 0, kw.length) &&
      boundary(i - 1) && boundary(i + kw.length))
  }

  /** `sql` cut into the pieces between the `[start, end)` spans, which
    * are dropped.
    */
  private def cut(sql: String, spans: Seq[(Int, Int)]): Seq[String] =
    (0 +: spans.map(_._2)).zip(spans.map(_._1) :+ sql.length).map { case (s, e) => sql.substring(s, e) }

  /** Split on `sep` at paren depth 0 outside quoted regions. */
  private def splitTopLevel(sql: String, sep: Char): Seq[String] = {
    val d = scan(sql)
    cut(sql, sql.indices.filter(i => sql.charAt(i) == sep && d(i) == 0).map(i => (i, i + 1)))
  }

  /** Split on top-level UNION [ALL]. Returns (branches, separators) with
    * `separators.length == branches.length - 1`; each separator is "UNION"
    * or "UNION ALL".
    */
  private def splitTopLevelUnion(sql: String): (Seq[String], Seq[String]) = {
    val unions = topLevelKeyword(sql, "UNION").map { i =>
      "(?is)^\\s*ALL\\b".r.findFirstIn(sql.substring(i + 5))
        .fold((i, i + 5, "UNION"))(all => (i, i + 5 + all.length, "UNION ALL"))
    }
    (cut(sql, unions.map { case (s, e, _) => (s, e) }), unions.map(_._3))
  }

  /** Postgres `expr::type` cast → `CAST(expr AS type)`. Spark 4 parses simple
    * `x::int`, but Postgres type names (`numeric`, `double precision`) and
    * literal casts inside VALUES rows are safer rewritten explicitly.
    * Handles the observed forms: literal/identifier `::` type-name
    * (`tests/rules/custom_query.yaml:17`).
    */
  private val castRe =
    "(\\w+(?:\\.\\w+)*|\\))\\s*::\\s*(\\w+(?:\\s+precision)?)(\\s*\\(\\s*\\d+(?:\\s*,\\s*\\d+)?\\s*\\))?".r

  /** String-literal-operand casts (`''::text`, `'0.5'::double precision`):
    * the operand regex consumes the whole quoted literal itself (doubled
    * '' escapes included), which makes it safe to run over the RAW sql —
    * and necessary: [[mapOutsideLiterals]] severs the literal from its
    * segment, so [[castRe]] can never see these. A false match starting
    * inside a balanced literal is impossible: the would-be closing quote
    * is an escape half, so the next char is a quote, never `:`.
    */
  private val litCastRe =
    "('(?:[^']|'')*')\\s*::\\s*(\\w+(?:\\s+precision)?)(\\s*\\(\\s*\\d+(?:\\s*,\\s*\\d+)?\\s*\\))?".r

  def rewriteCasts(sql: String): String = {
    val litDone = litCastRe.replaceAllIn(sql, m => {
      val target = sparkType(m.group(2) + Option(m.group(3)).getOrElse(""))
      scala.util.matching.Regex.quoteReplacement(
        s"CAST(${m.group(1)} AS $target)")
    })
    mapOutsideLiterals(litDone) { seg =>
      castRe.replaceAllIn(seg, m => {
        val target = sparkType(m.group(2) + Option(m.group(3)).getOrElse(""))
        // `)` ending means the cast applies to a parenthesized expression —
        // leave those to Spark's native `::` (rare; not in shipped rules).
        if (m.group(1) == ")") m.matched
        else s"CAST(${m.group(1)} AS $target)"
      })
    }
  }

  /** Postgres type name → Spark SQL type name (SURVEY.md §1.2 table). */
  def sparkType(pg: String): String = pg.trim.toLowerCase match {
    case "integer" | "int" | "int4" | "serial" => "INT"
    case "bigint" | "int8" | "bigserial" => "BIGINT"
    case "smallint" | "int2" => "SMALLINT"
    case "numeric" | "decimal" => "DECIMAL(38,18)"
    case s if s.startsWith("numeric") || s.startsWith("decimal") =>
      s.toUpperCase.replace("NUMERIC", "DECIMAL")
    case "float" | "double precision" | "double" => "DOUBLE"
    case "real" => "FLOAT"
    case "text" | "char" | "character" => "STRING"
    case s if s.startsWith("varchar") || s.startsWith("character varying") || s.startsWith("char") => "STRING"
    case "date" => "DATE"
    case s if s.startsWith("timestamp") => "TIMESTAMP"
    case "boolean" | "bool" => "BOOLEAN"
    case other => other.toUpperCase
  }

  /** Full pipeline for a verbatim rule SQL fragment. */
  def translate(sql: String, schemas: Set[String] = KnownSchemas): String =
    qualify(rewriteCasts(rewriteDistinctOn(stripNewlines(sql))), schemas)

  /** The reference newline-strips verbatim expressions
    * (`generation.py:12-14`).
    */
  def stripNewlines(s: String): String = s.replace('\n', ' ').trim

  /** Apply `f` to the segments of `sql` outside quoted regions — string
    * literals AND double-quoted/backtick identifiers — leaving quoted
    * contents untouched (a column aliased `"cerner.x"` or `"a::int"` must
    * not be name-qualified or cast-rewritten).
    */
  private def mapOutsideLiterals(sql: String)(f: String => String): String = {
    val quoted = scan(sql).map(_ == Quoted)
    val bounds = 0 +: (1 until sql.length).filter(i => quoted(i) != quoted(i - 1)) :+ sql.length
    bounds.zip(bounds.tail).map { case (s, e) =>
      if (s < e && quoted(s)) sql.substring(s, e) else f(sql.substring(s, e))
    }.mkString
  }
}
