package graft.dialect

import org.scalatest.funsuite.AnyFunSuite

class DialectSpec extends AnyFunSuite {

  test("qualify: schema.table.col strips to alias; schema.table FROM-form aliases") {
    assert(Dialect.qualify("cerner.foo.id = mapping.baz.foo_id", Dialect.KnownSchemas)
      == "foo.id = baz.foo_id")
    assert(Dialect.qualify("select * from cerner.foo where cerner.foo.id > 2", Dialect.KnownSchemas)
      == "select * from cerner_foo AS foo where foo.id > 2")
    assert(Dialect.qualify(
      "select mapping.baz.id from mapping.baz, temp_table_1 where mapping.baz.id = temp_table_1.id",
      Dialect.KnownSchemas)
      == "select baz.id from mapping_baz AS baz, temp_table_1 where baz.id = temp_table_1.id")
  }

  test("qualify: schema.table.* keeps the star on the table alias") {
    assert(Dialect.qualify("select cerner.foo.* from cerner.foo", Dialect.KnownSchemas)
      == "select foo.* from cerner_foo AS foo")
    assert(Dialect.qualify("select count(omop.x.*), omop.x.id from omop.x", Dialect.KnownSchemas)
      == "select count(x.*), x.id from omop_x AS x")
  }

  test("qualify: string literals untouched") {
    assert(Dialect.qualify("x = 'cerner.foo' and cerner.foo.y = 'it''s'", Dialect.KnownSchemas)
      == "x = 'cerner.foo' and foo.y = 'it''s'")
  }

  test("rewriteCasts: Postgres :: casts (`tests/rules/custom_query.yaml:17`)") {
    assert(Dialect.rewriteCasts("0::int") == "CAST(0 AS INT)")
    assert(Dialect.rewriteCasts("1::numeric") == "CAST(1 AS DECIMAL(38,18))")
    assert(Dialect.rewriteCasts("x.y::double precision") == "CAST(x.y AS DOUBLE)")
    assert(Dialect.rewriteCasts("a::varchar(10)") == "CAST(a AS STRING)")
    assert(Dialect.rewriteCasts("'a::b'") == "'a::b'")
  }

  test("rewriteDistinctOn (`validation/location.yaml:14-29`)") {
    val in = "select distinct on (city) city, zip from cerner.address order by city, beg_effective_dt_tm"
    val out = Dialect.rewriteDistinctOn(in)
    // explicit ORDER BY honored, select-list columns appended as
    // deterministic tie-breakers
    assert(out.contains("row_number() OVER (PARTITION BY city ORDER BY city, beg_effective_dt_tm, city, zip)"))
    assert(out.contains("WHERE __rn = 1"))
    // no distinct-on → unchanged
    assert(Dialect.rewriteDistinctOn("select distinct a from t") == "select distinct a from t")
    // per-UNION-branch rewrite (`validation/location.yaml:12-18`)
    val union = Dialect.rewriteDistinctOn(
      "select distinct on (k) k, v from cerner.a UNION select distinct on (k) k, v from cerner.b order by k")
    assert(union.split("UNION").length == 2)
    assert("__rn = 1".r.findAllIn(union).length == 2)
  }

  test("rewriteDistinctOn: nested parens in keys, function commas in select list") {
    // key list containing a function call (nested parens + commas)
    val fn = Dialect.rewriteDistinctOn(
      "select distinct on (substring(zip, 1, 3)) zip, city from cerner.address")
    assert(fn.contains("PARTITION BY substring(zip, 1, 3)"))
    assert(fn.contains("WHERE __rn = 1"))
    // function-call commas in the select list must not split the tie-break
    // scan mid-call: only simple column refs become tie-breakers
    val sel = Dialect.rewriteDistinctOn(
      "select distinct on (city) city, substring(zip, 1, 2), zip from cerner.address")
    assert(sel.contains("ORDER BY city, zip)"))
    assert(!sel.contains("ORDER BY city, 1"))
    // FROM inside a string literal is not the FROM clause
    val lit = Dialect.rewriteDistinctOn(
      "select distinct on (k) k, ' from x ' as tag from cerner.t")
    assert(lit.contains("PARTITION BY k"))
    assert(lit.contains("FROM (") && lit.contains("cerner.t"))
  }

  test("rewriteCasts: string-literal operands translate (''::text, '0.5'::double precision)") {
    assert(Dialect.rewriteCasts("coalesce(note, ''::text)")
      == "coalesce(note, CAST('' AS STRING))")
    assert(Dialect.rewriteCasts("'0.5'::double precision")
      == "CAST('0.5' AS DOUBLE)")
    // doubled-quote escapes ride inside the operand
    assert(Dialect.rewriteCasts("'it''s'::text") == "CAST('it''s' AS STRING)")
    // a `::` INSIDE a literal is content, not a cast
    assert(Dialect.rewriteCasts("x = 'a::b' and y::int = 1")
      == "x = 'a::b' and CAST(y AS INT) = 1")
  }

  test("qualify: a table carrying its own alias is not double-aliased") {
    assert(Dialect.qualify("select e.id from cerner.encounter e where e.x = 1",
        Dialect.KnownSchemas)
      == "select e.id from cerner_encounter e where e.x = 1")
    assert(Dialect.qualify("select f.id from cerner.foo AS f", Dialect.KnownSchemas)
      == "select f.id from cerner_foo AS f")
    // no alias -> ours is appended, exactly as before
    assert(Dialect.qualify("select id from cerner.foo where id > 1", Dialect.KnownSchemas)
      == "select id from cerner_foo AS foo where id > 1")
  }

  test("splitTopLevelUnion: underscore-delimited 'union' inside identifiers is not an operator") {
    val sql = "select col_union, union_dt from cerner.t"
    assert(Dialect.rewriteDistinctOn(sql) == sql)
    val real = Dialect.rewriteDistinctOn(
      "select distinct on (k) k, union_dt from cerner.a UNION select distinct on (k) k, union_dt from cerner.b")
    assert("__rn = 1".r.findAllIn(real).length == 2)
  }

  test("rewriteDistinctOn: outer select uses output names (aliases, unqualified cols); * fails loud") {
    val q = Dialect.rewriteDistinctOn(
      "select distinct on (k) t.k, substring(t.zip, 1, 3) AS z from cerner.t t")
    // outer list must be resolvable against the subquery: alias + bare col
    assert(q.startsWith("SELECT k, z FROM ("), q)
    assert(q.contains("SELECT t.k, substring(t.zip, 1, 3) AS z, row_number()"))
    val e = intercept[IllegalArgumentException] {
      Dialect.rewriteDistinctOn("select distinct on (k) * from cerner.t")
    }
    assert(e.getMessage.contains("__rn"))
  }

  test("rewriteDistinctOn: quoted identifiers shield keywords, commas, parens") {
    // a column aliased "from" (double-quoted identifier) must not be taken
    // for the FROM clause
    val q = Dialect.rewriteDistinctOn(
      """select distinct on (k) k, x as "from" from cerner.t""")
    assert(q.contains("PARTITION BY k"))
    assert(q.contains("""x as "from""""))
    assert(q.contains("cerner.t"))
    // same for a backtick identifier carrying a comma and a paren
    val bt = Dialect.rewriteDistinctOn(
      "select distinct on (k) k, x as `a, (order` from cerner.t")
    assert(bt.contains("PARTITION BY k"))
    assert(bt.contains("ORDER BY k)"))
    assert(bt.contains("`a, (order`"))
    // quoted identifier inside the key list must not derail the paren scan
    val qk = Dialect.rewriteDistinctOn(
      """select distinct on ("weird)col") "weird)col", v from cerner.t""")
    assert(qk.contains("""PARTITION BY "weird)col""""))
  }

  test("qualify/rewriteCasts: quoted identifiers are protected regions") {
    // a quoted identifier that LOOKS like a schema-qualified name or a cast
    // must pass through untouched
    val q = Dialect.qualify("""select "cerner.foo" from cerner.bar""", Dialect.KnownSchemas)
    assert(q.contains(""""cerner.foo""""))
    assert(q.contains("cerner_bar AS bar"))
    val c = Dialect.rewriteCasts("""select "a::int", b::int from t""")
    assert(c.contains(""""a::int""""))
    assert(c.contains("CAST(b AS INT)"))
    val bt = Dialect.qualify("select `cerner.foo`, cerner.foo.x from cerner.foo", Dialect.KnownSchemas)
    assert(bt.contains("`cerner.foo`"))
    assert(bt.contains("foo.x"))
  }

  test("type map (SURVEY.md §1.2)") {
    assert(Dialect.sparkType("integer") == "INT")
    assert(Dialect.sparkType("serial") == "INT")
    assert(Dialect.sparkType("bigint") == "BIGINT")
    assert(Dialect.sparkType("varchar(3)") == "STRING")
    assert(Dialect.sparkType("numeric") == "DECIMAL(38,18)")
    assert(Dialect.sparkType("numeric(10,2)") == "DECIMAL(10,2)")
    assert(Dialect.sparkType("real") == "FLOAT")
    assert(Dialect.sparkType("timestamp") == "TIMESTAMP")
  }
}
