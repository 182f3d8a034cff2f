package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Parser edges for the foreign SQL-dump importer (the registered s35 row
  * carries the round-trip oracle; these pin the dialect corners the
  * reference's TP53/Targetome dumps actually contain). */
class SqlDumpSpec extends AnyFunSuite with SparkTestBase {

  private def write(sql: String): String = {
    val f = new java.io.File(tempDir("graft-dump"), "dump.sql")
    java.nio.file.Files.write(f.toPath, sql.getBytes("UTF-8"))
    f.getAbsolutePath
  }

  test("statement split honors quoted semicolons, '' escapes, and comments") {
    val stmts = SqlDump.splitStatements(
      """-- header comment; with a semicolon
        |CREATE TABLE t (a INT); /* block; comment */
        |INSERT INTO t VALUES ('x;y'), ('it''s');
        |""".stripMargin)
    assert(stmts.length === 2)
    assert(stmts(1).contains("'x;y'") && stmts(1).contains("'it''s'"))
  }

  test("multi-table dump: schemas typed, constraint clauses skipped, NULLs kept") {
    val path = write(
      """CREATE TABLE genes (
        |  gene_id BIGINT,
        |  symbol VARCHAR(32),
        |  score DOUBLE,
        |  active BIT,
        |  PRIMARY KEY (gene_id)
        |);
        |CREATE TABLE notes (note TEXT);
        |INSERT INTO genes (gene_id, symbol, score, active) VALUES
        |  (1, 'TP53', 0.5, 1),
        |  (2, NULL, NULL, 0);
        |INSERT INTO notes VALUES ('a (paren, comma) note');
        |SET ANSI_NULLS ON;
        |""".stripMargin)
    val tables = SqlDump.readSqlDumpTables(spark, path)
    assert(tables.keySet === Set("genes", "notes"))
    val g = tables("genes")
    assert(g.schema.map(f => (f.name, f.dataType.typeName)).toSeq ===
      Seq(("gene_id", "long"), ("symbol", "string"),
        ("score", "double"), ("active", "boolean")))
    val rows = g.collect().sortBy(_.getLong(0))
    assert(rows(0).toSeq === Seq(1L, "TP53", 0.5, true))
    assert(rows(1).toSeq === Seq(2L, null, null, false))
    assert(tables("notes").collect().map(_.getString(0)).toSeq ===
      Seq("a (paren, comma) note"))
  }

  test("round-trip through sqlLiteral preserves quotes and nulls") {
    val vals = Seq[Any]("it's", null, 42L, 1.5, true)
    assert(vals.map(SqlDump.sqlLiteral) ===
      Seq("'it''s'", "NULL", "42", "1.5", "1"))
  }

  test("guards: missing file, oversized dump, unknown table, arity mismatch") {
    intercept[IllegalArgumentException] {
      SqlDump.readSqlDumpTables(spark, "/no/such/dump.sql")
    }
    val p = write("CREATE TABLE t (a INT);")
    intercept[IllegalArgumentException] {
      SqlDump.readSqlDumpTables(spark, p, maxBytes = 3)
    }
    intercept[IllegalArgumentException] { SqlDump.readSqlDump(spark, p, "zz") }
    val bad = write("CREATE TABLE t (a INT, b INT);\nINSERT INTO t VALUES (1);")
    intercept[IllegalArgumentException] { SqlDump.readSqlDumpTables(spark, bad) }
  }
}
