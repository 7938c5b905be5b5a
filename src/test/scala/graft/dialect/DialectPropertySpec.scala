package graft.dialect

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the Dialect scanners (VERDICT r4 #8): the DISTINCT ON
  * rewrite has had two bug rounds of hand-found counterexamples (nested
  * parens, literal FROM, quoted identifiers), so the class is closed with
  * generators that splice those hazards into random positions — string
  * literals / quoted identifiers carrying keywords, commas, parens, and
  * doubled-quote escapes, inside randomly shaped select lists and key lists.
  */
object DialectPropertySpec extends Properties("Dialect") {

  private val ident: Gen[String] =
    for { h <- Gen.alphaLowerChar; t <- Gen.listOfN(5, Gen.alphaNumChar) }
      yield (h :: t).mkString

  /** Atoms a quote-blind scanner would misparse, plus the quoting
    * hazards of a char-by-char scan: doubled delimiters inside literals
    * and identifiers, and a doubled quote beside two adjacent literals.
    */
  private val nastyLit: Gen[String] = Gen.oneOf(
    "' from x '", "'a,(b'", "'it''s, from (x)'", "'union all'", "'order by'",
    "'a''b'", "'a' 'b'", "'a''b' 'a' 'b'")
  private val nastyQuotedId: Gen[String] = Gen.oneOf(
    "\"from\"", "\"a,b\"", "\"or(der\"", "\"wei)rd\"", "`from`", "`a, (order`",
    "\"a\"\"b\"", "`a``b`")

  private val funcCall: Gen[String] =
    for { f <- Gen.oneOf("substring", "coalesce", "concat"); a <- ident; b <- ident }
      yield s"$f($a, $b, 1)"

  /** A parenthesized subquery: its FROM, commas and literal sit below the
    * select list's top level.
    */
  private val subquery: Gen[String] =
    for { a <- ident; t <- ident; l <- nastyLit }
      yield s"(select max($a), 1 from cerner.$t where $a = $l)"

  private val selectItem: Gen[String] = Gen.oneOf(
    ident,
    funcCall,
    for {
      e <- Gen.oneOf(ident, funcCall, nastyLit, subquery)
      a <- Gen.oneOf(ident, nastyQuotedId)
    } yield s"$e as $a",
    nastyLit)

  private val selectList: Gen[String] =
    Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, selectItem)).map(_.mkString(", "))

  /** `prev` then keyword `kw`: glued on (`'x'from`) when `prev` ends with a
    * quote, else one space between.
    */
  private def glue(prev: String, kw: String): Gen[String] =
    if (prev.nonEmpty && "'\"`".contains(prev.last)) Gen.oneOf(s"$prev$kw", s"$prev $kw")
    else Gen.const(s"$prev $kw")

  private val keys: Gen[String] = Gen.oneOf(ident, funcCall, nastyQuotedId)

  private val distinctOnSelect: Gen[String] =
    for {
      k <- keys
      sel <- selectList
      head <- glue(s"select distinct on ($k) $sel", "from")
      t <- ident
      where <- Gen.option(nastyLit.map(l => s" where tag = $l"))
      order <- Gen.option(ident)
      sql <- order.fold(Gen.const(s"$head cerner.$t${where.getOrElse("")}"))(o =>
        glue(s"$head cerner.$t${where.getOrElse("")}", s"order by $o"))
    } yield sql

  private val plainSelect: Gen[String] =
    for {
      sel <- selectList
      head <- glue(s"select $sel", "from")
      t <- ident
      where <- Gen.option(nastyLit.map(l => s" where tag = $l"))
    } yield s"$head cerner.$t${where.getOrElse("")}"

  /** Branches joined by UNION / UNION ALL, glued to a branch's closing
    * quote at random (`'x'union select …`).
    */
  private def unionOf(branches: Seq[String], sep: String): Gen[String] =
    branches.tail.foldLeft(Gen.const(branches.head)) { (acc, b) =>
      acc.flatMap(prev => glue(prev, s"$sep $b"))
    }

  /** Maximal runs of quoted chars, in order — the reference classification
    * (a doubled delimiter scans as exit-then-reenter, so it stays in its
    * run; an unterminated region runs to the end).
    */
  private def quotedRuns(s: String): Seq[String] = {
    val runs = Seq.newBuilder[String]
    val cur = new StringBuilder
    var lit: Char = 0
    for (c <- s) {
      val quoted = lit != 0 || c == '\'' || c == '"' || c == '`'
      if (lit != 0) { if (c == lit) lit = 0 }
      else if (quoted) lit = c
      if (quoted) cur += c
      else if (cur.nonEmpty) { runs += cur.result(); cur.clear() }
    }
    if (cur.nonEmpty) runs += cur.result()
    runs.result()
  }

  /** Paren balance outside quoted regions — the structural invariant every
    * rewrite must preserve (same delimiter semantics as the scanner).
    */
  private def balancedOutsideQuotes(s: String): Boolean = {
    var depth = 0
    var lit: Char = 0
    for (c <- s) {
      if (lit != 0) { if (c == lit) lit = 0 }
      else if (c == '\'' || c == '"' || c == '`') lit = c
      else if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth < 0) return false }
    }
    depth == 0 && lit == 0
  }

  property("non-DISTINCT-ON selects pass through unchanged") =
    forAll(plainSelect) { sql => Dialect.rewriteDistinctOn(sql) == sql }

  property("DISTINCT ON rewrites to a ranked window keeping every atom") =
    forAll(distinctOnSelect) { sql =>
      val out = Dialect.rewriteDistinctOn(sql)
      val k = sql.substring(sql.indexOf('(') + 1, {
        // recover the generated key by scanning like the implementation would
        var depth = 0; var lit: Char = 0; var i = sql.indexOf('('); var close = -1
        while (close < 0 && i < sql.length) {
          val c = sql.charAt(i)
          if (lit != 0) { if (c == lit) lit = 0 }
          else if (c == '\'' || c == '"' || c == '`') lit = c
          else if (c == '(') depth += 1
          else if (c == ')') { depth -= 1; if (depth == 0) close = i }
          i += 1
        }
        close
      })
      out.contains(s"PARTITION BY $k") &&
        out.contains("WHERE __rn = 1") &&
        balancedOutsideQuotes(out) &&
        // every quoted run of the input survives verbatim
        quotedRuns(sql).forall(quotedRuns(out).contains)
    }

  private val unionQuery: Gen[(Seq[String], String, String)] =
    for {
      branches <- Gen.chooseNum(1, 4).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(distinctOnSelect, plainSelect)))
      sep <- Gen.oneOf("UNION", "UNION ALL")
      sql <- unionOf(branches, sep)
    } yield (branches, sep, sql)

  property("UNION branches rewrite independently; quoted UNION never splits") =
    forAll(unionQuery) { case (branches, sep, sql) =>
      val out = Dialect.rewriteDistinctOn(sql)
      val expected = branches.count(_.startsWith("select distinct on"))
      countOf(out, "WHERE __rn = 1") == expected &&
        countOf(out, sep) >= branches.length - 1 &&
        balancedOutsideQuotes(out)
    }

  private def countOf(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  property("translate keeps every quoted run verbatim and in order, an unterminated tail included") =
    forAll(for {
      branches <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, plainSelect))
      sql <- Gen.oneOf("UNION", "UNION ALL").flatMap(unionOf(branches, _))
      tail <- Gen.option(Gen.oneOf("'it''s, from (x", "\"a\"\"b, (", "`a``b union", "'"))
    } yield (sql + tail.fold("")(t => s" where tag = $t"), tail)) { case (sql, tail) =>
      val out = Dialect.translate(sql)
      quotedRuns(out) == quotedRuns(sql) &&
        tail.forall(out.endsWith) &&
        (tail.nonEmpty || balancedOutsideQuotes(out))
    }

  property("translate keeps quoted regions verbatim while qualifying real refs") =
    forAll(
      ident.suchThat(t => !Dialect.KnownSchemas(t)),
      Gen.oneOf("'cerner.foo'", "\"cerner.foo\"", "`omop.x`", "'a::int'", "\"b::int\"")) {
      (t, hazard) =>
        val out = Dialect.translate(s"select $hazard, cerner.$t.x from cerner.$t")
        out.contains(hazard) &&
          out.contains(s"cerner_$t AS $t") &&
          out.contains(s"$t.x") &&
          !out.contains(s"cerner.$t")
    }
}
