package graft.ddl

import java.nio.file.Files

import graft.SparkTestBase
import graft.queries.SqlCorpus

/** The corpus's TPC-H ddl.sql, statement by statement, through the dialect
  * bridge — plus pg-COPY round-trips over the TPC-H `.tbl`-style pipe CSV. */
class SqlBridgeSpec extends SparkTestBase {

  /** Its own temp-view namespace: registry queries run by other suites in
    * the same JVM register the driver testdata (nation, part, ...) as temp
    * views on the shared session, which would shadow the tables created
    * here. */
  private lazy val session = spark.newSession()

  private def inScratchDb[A](name: String)(f: => A): A = {
    session.sql(s"CREATE DATABASE IF NOT EXISTS $name")
    val prev = session.catalog.currentDatabase
    session.catalog.setCurrentDatabase(name)
    try f finally {
      session.catalog.setCurrentDatabase(prev)
      session.sql(s"DROP DATABASE IF EXISTS $name CASCADE")
    }
  }

  test("the corpus's TPC-H ddl.sql runs through the bridge") {
    inScratchDb("ref_ddl") {
      SqlCorpus.queries.statements("tpch/ddl.sql")
        .foreach(SqlBridge.execute(session, _))
      val tables = session.catalog.listTables("ref_ddl")
        .collect().map(_.name.toLowerCase).toSet
      assert(Set("nation", "region", "part", "supplier", "partsupp",
        "customer", "orders", "lineitem").subsetOf(tables))
      // inline constraints landed as enforceable properties
      assert(Engine.primaryKeyOf(session, "nation") == Seq("n_nationkey"))
      assert(Engine.primaryKeyOf(session, "partsupp") ==
        Seq("ps_partkey", "ps_suppkey"))
      assert(Engine.notNullOf(session, "region").contains("r_name"))
      // declared types survived Spark's own DDL type parser
      val part = session.table("part").schema
      assert(part("p_retailprice").dataType.sql == "DECIMAL(15,2)")
    }
  }

  test("pg COPY FROM pipe-delimited csv loads and enforces the PK") {
    inScratchDb("ref_copy") {
      SqlBridge.execute(session,
        """CREATE TABLE NATION  ( N_NATIONKEY  INTEGER NOT NULL,
          |  N_NAME VARCHAR(25) NOT NULL,
          |  N_REGIONKEY INTEGER NOT NULL,
          |  N_COMMENT VARCHAR(152),
          |  PRIMARY KEY (N_NATIONKEY))""".stripMargin)
      val tbl = Files.createTempFile("nation-", ".tbl")
      Files.writeString(tbl,
        "0|ALGERIA|0|ok\n1|ARGENTINA|1|fine\n2|BRAZIL|1|\n")
      val res = SqlBridge.execute(session,
        s"COPY nation FROM '$tbl' (FORMAT csv, DELIMITER '|')")
      assert(res.collect().head.getLong(0) == 3L)
      assert(session.table("nation").count() == 3)
      // re-copying the same keys violates the enforced PRIMARY KEY
      intercept[ConstraintViolationException] {
        SqlBridge.execute(session,
          s"COPY nation FROM '$tbl' (FORMAT csv, DELIMITER '|')")
      }
      // COPY (query) TO parquet round-trips
      val out = Files.createTempDirectory("copyto-").toString + "/nation_out"
      SqlBridge.execute(session,
        s"COPY (SELECT n_nationkey, n_name FROM nation) TO '$out' " +
          "(FORMAT parquet)")
      assert(session.read.parquet(out).count() == 3)
    }
  }

  test("a quoted comma in COPY options is a value, not a separator") {
    assert(SqlBridge.parseOptions(Some("FORMAT csv, DELIMITER ','")) ==
      Map("format" -> "csv", "delimiter" -> ","))
    inScratchDb("ref_copy_comma") {
      SqlBridge.execute(session,
        "CREATE TABLE PTS ( ID INTEGER NOT NULL, NAME VARCHAR(10), " +
          "PRIMARY KEY (ID) )")
      val src = Files.createTempFile("pts-", ".csv")
      Files.writeString(src, "1,a\n2,b\n")
      val res = SqlBridge.execute(session,
        s"COPY pts FROM '$src' (FORMAT csv, DELIMITER ',')")
      assert(res.collect().head.getLong(0) == 2L)
      val out = Files.createTempDirectory("copyto-").toString + "/pts_out"
      SqlBridge.execute(session,
        s"COPY (SELECT id, name FROM pts) TO '$out' " +
          "(FORMAT csv, DELIMITER ',')")
      val back = session.read.text(out).collect().map(_.getString(0)).sorted
      assert(back.toSeq == Seq("1,a", "2,b"))
    }
  }

  test("COPY option values read as pg literals") {
    def opt(v: String) =
      SqlBridge.parseOptions(Some(s"DELIMITER $v"))("delimiter")
    assert(opt("E'\\t'") == "\t")
    assert(opt("e'\\x7C'") == "|")
    assert(opt("E'\\047'") == "'")
    assert(opt("E'\\u00e9'") == "é")
    assert(opt("E'\\\\'") == "\\")
    assert(opt("E'\\''") == "'")
    assert(opt("''''") == "'")
    assert(opt("'\\t'") == "\\t") // a standard string keeps its backslash
    assert(opt("'|'") == "|")
    assert(opt("bare") == "bare")
    inScratchDb("ref_copy_tab") {
      SqlBridge.execute(session,
        "CREATE TABLE TABS ( ID INTEGER NOT NULL, NAME VARCHAR(10), " +
          "PRIMARY KEY (ID) )")
      val src = Files.createTempFile("tabs-", ".tsv")
      Files.writeString(src, "1\ta,b\n2\tc\n")
      val res = SqlBridge.execute(session,
        s"COPY tabs FROM '$src' (FORMAT csv, DELIMITER E'\\t')")
      assert(res.collect().head.getLong(0) == 2L)
      val out = Files.createTempDirectory("copyto-").toString + "/tabs_out"
      SqlBridge.execute(session,
        s"COPY (SELECT id, name FROM tabs) TO '$out' " +
          "(FORMAT csv, DELIMITER E'\\t')")
      val back = session.read.text(out).collect().map(_.getString(0)).sorted
      assert(back.toSeq == Seq("1\ta,b", "2\tc"))
    }
  }

  test("plain SQL passes through untouched") {
    val df = SqlBridge.execute(session, "SELECT 1 + 1 AS two")
    assert(df.collect().head.getInt(0) == 2)
  }
}
