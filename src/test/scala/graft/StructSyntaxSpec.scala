package graft

import graft.dialect.StructSyntax
import org.scalatest.funsuite.AnyFunSuite

/** DuckDB struct/map literal sugar — text contract plus executed
  * end-to-end values (DuckDB 1.0 behavior pinned empirically). */
class StructSyntaxSpec extends AnyFunSuite {

  private def rw(s: String) = StructSyntax.rewrite(s)

  test("struct literal becomes named_struct") {
    assert(rw("SELECT {'a': 1, 'b': 'x'} AS s") ===
      "SELECT named_struct('a', 1, 'b', 'x') AS s")
    assert(rw("SELECT ({'a': 1}).a") === "SELECT (named_struct('a', 1)).a")
  }

  test("MAP literal becomes map_from_arrays(); bare braces after other words stay structs") {
    // the two-array constructor: a plain 2-arg map() emission would
    // collide with the function table's map(keys, values) rule (single-pair
    // literals were miscompiled to map_from_arrays before round 13)
    assert(rw("SELECT MAP {'k1': 10, 'k2': 20} AS m") ===
      "SELECT map_from_arrays(array('k1', 'k2'), array(10, 20)) AS m")
    assert(rw("SELECT MAP {'solo': 1} AS m") ===
      "SELECT map_from_arrays(array('solo'), array(1)) AS m")
    assert(rw("SELECT MAP {1: 'x', 2: 'y'} AS m") ===
      "SELECT map_from_arrays(array(1, 2), array('x', 'y')) AS m")
    assert(rw("SELECT remap {'k': 1} AS s") ===
      "SELECT remap named_struct('k', 1) AS s")
  }

  test("nested literals and casts inside values") {
    assert(rw("SELECT {'outer': {'inner': 2}, 'c': x::INT} AS s") ===
      "SELECT named_struct('outer', named_struct('inner', 2), 'c', x::INT) AS s")
  }

  test("struct_pack named arguments") {
    assert(rw("SELECT struct_pack(a := 1, b := v + 1) AS s") ===
      "SELECT named_struct('a', 1, 'b', v + 1) AS s")
  }

  test("non-literal braces and brace text in strings pass through") {
    for (q <- Seq(
      "SELECT '{not: sql}' AS s",
      "SELECT {unquoted: 1} AS s",  // unquoted key: left for a loud error
      "SELECT '{'||x||'}' AS s"))
      assert(rw(q) === q, s"changed: $q")
  }

  test("executes end-to-end through the engine chain") {
    val engine = new graft.session.Engine(
      graft.session.EngineConfig(existingSession = Some(SparkTestSession.spark)))
    val conn = engine.connect()
    val r = conn.queryDF(
      "SELECT ({'a': 41, 'b': 'x'}).a + 1 AS v, " +
        "element_at(MAP {'k1': 10, 'k2': 20}, 'k2') AS m, " +
        "element_at(MAP {'k1': 10}, 'zz') AS miss").collect().head
    assert(r.get(0) === 42)
    // DuckDB 1.0: map extraction is LIST-valued — [v] on hit, [] on miss
    assert(r.getSeq[Int](1) === Seq(20))
    assert(r.getSeq[Int](2) === Seq.empty)
  }
}
