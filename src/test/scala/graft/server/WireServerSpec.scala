package graft.server

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Wire-protocol server oracle: a raw-socket client (no pg library — the
  * framing itself is under test) drives the simple-query cycle and pins
  * message-level behavior against the public protocol spec. */
class WireServerSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def withServer[A](f: WireClient.Conn => A): A = {
    val server = new WireServer(spark, 0, Tables.register(_, sf0001))
    try {
      val conn = new WireClient.Conn("127.0.0.1", server.boundPort)
      try f(conn) finally conn.close()
    } finally server.close()
  }

  test("startup handshake reports server parameters and reaches ready") {
    withServer { conn =>
      assert(conn.parameters("server_encoding") == "UTF8")
      assert(conn.parameters.contains("server_version"))
      assert(conn.parameters("TimeZone") == "UTC")
    }
  }

  test("simple query returns typed row description and text rows") {
    withServer { conn =>
      val res = conn.query(
        "SELECT 1 AS i, CAST(2 AS BIGINT) AS l, 'x' AS s, " +
          "CAST(1.5 AS DOUBLE) AS d, true AS b, CAST(NULL AS INT) AS n").head
      assert(res.fields.map(_._1) == Vector("i", "l", "s", "d", "b", "n"))
      assert(res.fields.map(_._2) == Vector(23, 20, 25, 701, 16, 23))
      assert(res.rows == Vector(Vector(
        Some("1"), Some("2"), Some("x"), Some("1.5"), Some("t"), None)))
      assert(res.tag == "SELECT 1")
    }
  }

  test("queries run against the registered testdata views") {
    withServer { conn =>
      val res = conn.query(
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey").head
      assert(res.rows.size == 5)
      assert(res.rows.head(1).get == "AFRICA")
      assert(res.tag == "SELECT 5")
    }
  }

  test("txn control: pg tags, and ROLLBACK warns there is no transaction") {
    withServer { conn =>
      assert(conn.query("BEGIN").head.tag == "BEGIN")
      assert(conn.query("START TRANSACTION").head.tag == "START TRANSACTION")
      assert(conn.query("COMMIT").head.tag == "COMMIT")
      assert(conn.query("END").head.tag == "COMMIT")
      assert(conn.notices.isEmpty) // BEGIN/COMMIT stay silent no-ops
      // ROLLBACK must NOT let a client believe persisted writes were
      // undone: stock pg's outside-a-transaction WARNING 25P01 rides
      // along with the ROLLBACK tag
      val r = conn.query("ROLLBACK").head
      assert(r.tag == "ROLLBACK")
      assert(conn.notices.exists(n => n.sqlState == "25P01" &&
        n.message.contains("no transaction")), conn.notices.toString)
      // same warning on the extended-protocol path (JDBC autocommit(false))
      conn.notices.clear()
      assert(conn.queryExtended("ROLLBACK").tag == "ROLLBACK")
      assert(conn.notices.exists(_.sqlState == "25P01"))
    }
  }

  test("statement split ignores ';', quotes and whole pieces in comments") {
    withServer { conn =>
      val two = conn.query("SELECT 1 AS a; -- don't\nSELECT 2 AS b")
      assert(two.map(_.rows) ==
        Vector(Vector(Vector(Some("1"))), Vector(Vector(Some("2")))))
      val split = conn.query("SELECT 1 AS a -- don't\n; SELECT 2 AS b")
      assert(split.map(_.rows.head.head.get) == Vector("1", "2"))
      val one = conn.query("SELECT 1 AS a /* ; */")
      assert(one.map(_.rows) == Vector(Vector(Vector(Some("1")))))
      // a piece of only comments is no statement
      assert(conn.query("SELECT 1 AS a; -- done").size == 1)
      assert(conn.query("-- only a comment").isEmpty)
    }
  }

  // Where pg ends a literal or a quoted identifier: an escape string's \'
  // does not end it; a standard string takes no backslash escapes
  // (standard_conforming_strings = on); "" doubles a quote in an identifier.
  Seq(
    "SELECT E'a\\';b' AS x" -> Vector("x" -> "a';b"),
    "SELECT 'C:\\temp' AS x" -> Vector("x" -> "C:\\temp"),
    "SELECT 'a\\' AS x" -> Vector("x" -> "a\\"),
    "SELECT 'tax' ~ '^t\\.x$' AS m" -> Vector("m" -> "f"),
    "SELECT 1 AS \"a\"\"b\"" -> Vector("a\"b" -> "1")
  ).foreach { case (sql, want) =>
    test(s"simple Query lexes like pg: $sql") {
      withServer { conn =>
        val res = conn.query(sql)
        assert(res.size == 1)
        assert(res.head.fields.map(_._1).zip(res.head.rows.head.map(_.orNull))
          == want)
      }
    }
  }

  // A $n inside a literal or continuing an identifier is no parameter.
  Seq(
    "SELECT E'it\\'s $1' AS x" -> Vector("x" -> "it's $1"),
    "SELECT 1 AS \"a$1\"" -> Vector("a$1" -> "1")
  ).foreach { case (sql, want) =>
    test(s"Parse counts only code markers: $sql") {
      withServer { conn =>
        val res = conn.queryExtended(sql)
        assert(res.fields.map(_._1).zip(res.rows.head.map(_.orNull)) == want)
      }
    }
  }

  test("every reported setting is what SHOW answers") {
    withServer { conn =>
      assert(conn.parameters.get("standard_conforming_strings").contains("on"))
      conn.parameters.foreach { case (name, v) =>
        assert(conn.query(s"SHOW $name").head.rows == Vector(Vector(Some(v))),
          name)
      }
    }
  }

  test("a temp view over a dropped table is skipped; the others list") {
    Tables.register(spark, sf0001)
    spark.sql(
      "CREATE TABLE IF NOT EXISTS default.wire_gone (x INT) USING parquet")
    spark.sql("CREATE OR REPLACE TEMP VIEW wire_gone_v AS " +
      "SELECT * FROM default.wire_gone")
    spark.sql("DROP TABLE default.wire_gone")
    try {
      val names = PgCatalog.sessionRelations().map(_._1)
      assert(!names.contains("wire_gone_v"), names)
      Tables.all.foreach(t => assert(names.contains(t), names))
    } finally spark.catalog.dropTempView("wire_gone_v")
  }

  test("multiple statements in one Query message get one result each") {
    withServer { conn =>
      val res = conn.query(
        "SELECT count(*) AS c FROM region; SELECT count(*) AS c FROM nation")
      assert(res.size == 2)
      assert(res(0).rows.head.head.get == "5")
      assert(res(1).rows.head.head.get == "25")
    }
  }

  test("a quoted semicolon does not split the statement") {
    withServer { conn =>
      val res = conn.query("SELECT 'a;b' AS s")
      assert(res.size == 1)
      assert(res.head.rows.head.head.get == "a;b")
    }
  }

  test("errors surface as ErrorResponse and the connection stays usable") {
    withServer { conn =>
      val e = intercept[WireClient.ServerError] {
        conn.query("SELECT * FROM no_such_table_xyz")
      }
      assert(e.message.nonEmpty)
      // connection survives the error and serves the next query
      val res = conn.query("SELECT 42 AS v").head
      assert(res.rows.head.head.get == "42")
    }
  }

  test("a failing statement aborts the rest of its simple Query") {
    withServer { conn =>
      conn.query("CREATE DATABASE IF NOT EXISTS wire_abort")
      try {
        conn.query("USE wire_abort")
        conn.query("CREATE TABLE probe_t (x INT) USING parquet")
        intercept[WireClient.ServerError] {
          conn.query(
            "SELECT nope_col FROM probe_t; INSERT INTO probe_t VALUES (1)")
        }
        assert(conn.query("SELECT count(*) AS c FROM probe_t").head
          .rows.head.head.get == "0")
      } finally conn.query(
        "USE default; DROP DATABASE IF EXISTS wire_abort CASCADE")
    }
  }

  test("empty query yields no results and stays ready") {
    withServer { conn =>
      assert(conn.query("   ").isEmpty)
      assert(conn.query("SELECT 7 AS v").head.rows.head.head.get == "7")
    }
  }

  test("concurrent connections are served independently") {
    val server = new WireServer(spark, 0, Tables.register(_, sf0001))
    try {
      val results = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val threads = (0 until 4).map { i =>
        new Thread(() => {
          val c = new WireClient.Conn("127.0.0.1", server.boundPort)
          try results.put(i,
            c.query(s"SELECT $i + count(*) AS v FROM region").head
              .rows.head.head.get)
          finally c.close()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      assert((0 until 4).forall(i => results.get(i) == (i + 5).toString))
    } finally server.close()
  }

  test("CancelRequest kills the running statement; connection survives") {
    val server = new WireServer(spark, 0, Tables.register(_, sf0001))
    try {
      val victim = new WireClient.Conn("127.0.0.1", server.boundPort)
      try {
        assert(victim.backendKey._1 > 0)
        val result = scala.concurrent.Future {
          // minutes of codegen'd work at local[4] — cannot finish before
          // the cancel lands
          victim.query("SELECT sum(id % 97) AS s FROM range(300000000000)")
        }(scala.concurrent.ExecutionContext.global)
        Thread.sleep(1500) // let the job start
        WireClient.cancel("127.0.0.1", server.boundPort, victim.backendKey)
        val e = intercept[WireClient.ServerError] {
          scala.concurrent.Await.result(result,
            scala.concurrent.duration.Duration(60, "s"))
        }
        assert(e.sqlState == "57014", s"got ${e.sqlState}: ${e.message}")
        // the session is still alive and serves the next statement
        assert(victim.query("SELECT 5 AS v").head.rows.head.head.get == "5")
      } finally victim.close()
    } finally server.close()
  }

  test("a wrong cancel secret is ignored") {
    val server = new WireServer(spark, 0, Tables.register(_, sf0001))
    try {
      val conn = new WireClient.Conn("127.0.0.1", server.boundPort)
      try {
        WireClient.cancel("127.0.0.1", server.boundPort,
          (conn.backendKey._1, conn.backendKey._2 + 1))
        assert(conn.query("SELECT 6 AS v").head.rows.head.head.get == "6")
      } finally conn.close()
    } finally server.close()
  }

  test("reference-style DDL + pg COPY run over the wire") {
    withServer { conn =>
      conn.query("CREATE DATABASE IF NOT EXISTS wire_ddl")
      try {
        conn.query("USE wire_ddl")
        val create = conn.query(
          "CREATE TABLE T1 ( A INTEGER NOT NULL, B VARCHAR(10), " +
            "PRIMARY KEY (A) )")
        assert(create.head.tag == "CREATE TABLE")
        val f = java.nio.file.Files.createTempFile("wire-", ".tbl")
        java.nio.file.Files.writeString(f, "1|x\n2|y\n")
        val copied = conn.query(
          s"COPY t1 FROM '$f' (FORMAT csv, DELIMITER '|')")
        assert(copied.head.rows.head.head.get == "2")
        val res = conn.query("SELECT a, b FROM t1 ORDER BY a").head
        assert(res.rows.map(_.head.get) == Vector("1", "2"))
        // PK violation surfaces as a wire error, connection stays live
        intercept[WireClient.ServerError] {
          conn.query(s"COPY t1 FROM '$f' (FORMAT csv, DELIMITER '|')")
        }
        assert(conn.query("SELECT count(*) AS c FROM t1").head
          .rows.head.head.get == "2")
      } finally conn.query(
        "USE default; DROP DATABASE IF EXISTS wire_ddl CASCADE")
    }
  }

  test("a quoted qualified column casts, and COPY reads an E'\\t' delimiter") {
    withServer { conn =>
      conn.query("CREATE DATABASE IF NOT EXISTS wire_tab")
      try {
        conn.query("USE wire_tab")
        conn.query("CREATE TABLE tt (a INT, b STRING) USING parquet")
        val f = java.nio.file.Files.createTempFile("wire-", ".tsv")
        java.nio.file.Files.writeString(f, "1\tx|y\n2\tz\n")
        val copied = conn.query(
          s"COPY tt FROM '$f' (FORMAT csv, DELIMITER E'\\t')")
        assert(copied.head.rows.head.head.get == "2")
        val res = conn.query(
          """SELECT "tt"."a"::text AS a, "tt"."b" FROM tt ORDER BY a""").head
        assert(res.fields.map(_._2) == Vector(25, 25))
        assert(res.rows == Vector(Vector(Some("1"), Some("x|y")),
          Vector(Some("2"), Some("z"))))
      } finally conn.query(
        "USE default; DROP DATABASE IF EXISTS wire_tab CASCADE")
    }
  }

  test("extended protocol binds typed text parameters") {
    withServer { conn =>
      val res = conn.queryExtended(
        "SELECT $1 + 1 AS i, $2 * 2 AS l, upper($3) AS s, $4 / 2 AS d, " +
          "NOT $5 AS b, $6 AS n, $7 AS dt",
        Seq(
          23 -> Some("41"), 20 -> Some("100"), 25 -> Some("abc"),
          701 -> Some("3.5"), 16 -> Some("t"), 23 -> None,
          1082 -> Some("1998-12-01")))
      assert(res.rows == Vector(Vector(
        Some("42"), Some("200"), Some("ABC"), Some("1.75"), Some("f"),
        None, Some("1998-12-01"))))
      assert(res.tag == "SELECT 1")
    }
  }

  test("a placeholder used twice binds one value to both sites") {
    withServer { conn =>
      val res = conn.queryExtended(
        "SELECT n_name FROM nation WHERE n_nationkey BETWEEN $1 AND $1 + 2 " +
          "ORDER BY n_nationkey",
        Seq(23 -> Some("5")))
      assert(res.rows.map(_.head.get) ==
        Vector("NATION_5", "NATION_6", "NATION_7"))
    }
  }

  test("dollar-digit inside a string literal is not a placeholder") {
    withServer { conn =>
      val res = conn.queryExtended(
        "SELECT '$1' AS lit, $1 AS bound", Seq(23 -> Some("9")))
      assert(res.rows == Vector(Vector(Some("$1"), Some("9"))))
    }
  }

  test("parameters bind against the registered tables") {
    withServer { conn =>
      val res = conn.queryExtended(
        "SELECT count(*) AS c FROM nation WHERE n_regionkey = $1",
        Seq(20 -> Some("2")))
      assert(res.rows.head.head.get == "5")
    }
  }

  test("Execute max-rows suspends the portal and resumes across fetches") {
    withServer { conn =>
      val res = conn.queryExtended(
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey", maxRows = 7)
      assert(res.rows.map(_.head.get.toInt) == (0 until 25).toVector)
      assert(res.tag == "SELECT 25") // cumulative count across suspensions
    }
  }

  test("binary-format fixed-width parameters decode") {
    withServer { conn =>
      def be4(v: Int) =
        java.nio.ByteBuffer.allocate(4).putInt(v).array()
      def be8(v: Double) =
        java.nio.ByteBuffer.allocate(8).putDouble(v).array()
      val res = conn.queryExtended(
        "SELECT $1 * 2 AS i, $2 + 0.5 AS d",
        binaryParams = Seq(23 -> Some(be4(21)), 701 -> Some(be8(1.25))))
      assert(res.rows == Vector(Vector(Some("42"), Some("1.75"))))
    }
  }

  test("Describe statement reports parameter OIDs and result fields") {
    withServer { conn =>
      val (oids, fields) = conn.describeStatement(
        "SELECT n_name FROM nation WHERE n_nationkey = $1 AND n_name <> $2",
        Seq(20, 25))
      assert(oids == Vector(20, 25))
      assert(fields.map(_._1) == Vector("n_name"))
      assert(fields.map(_._2) == Vector(25))
    }
  }

  test("bind with too few parameters errors; connection stays usable") {
    withServer { conn =>
      val e = intercept[WireClient.ServerError] {
        conn.queryExtended(
          "SELECT $1 + $2 AS v", Seq(23 -> Some("1")))
      }
      assert(e.sqlState == "08P01")
      assert(conn.query("SELECT 3 AS v").head.rows.head.head.get == "3")
    }
  }

  test("an unparseable parameter value errors at bind, not execute") {
    withServer { conn =>
      val e = intercept[WireClient.ServerError] {
        conn.queryExtended("SELECT $1 AS v", Seq(23 -> Some("not-a-number")))
      }
      assert(e.sqlState == "22P02")
      assert(conn.query("SELECT 4 AS v").head.rows.head.head.get == "4")
    }
  }

  test("after an extended-cycle error the server skips until Sync") {
    withServer { conn =>
      // pipelined: Parse + failing Bind (too few params) + Describe +
      // Execute + Sync, all before reading. Per the protocol the server
      // must answer ParseComplete, ErrorResponse, then DISCARD the
      // Describe and Execute (no NoData / EmptyQueryResponse) until Sync.
      conn.send('P') { b =>
        b.writeByte(0)
        b.write("SELECT $1 + $2 AS v".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        b.writeByte(0)
        b.writeShort(2); b.writeInt(23); b.writeInt(23)
      }
      conn.send('B') { b =>
        b.writeByte(0); b.writeByte(0)
        b.writeShort(0)
        b.writeShort(1)                      // only one of two params
        b.writeInt(1); b.write("7".getBytes)
        b.writeShort(0)
      }
      conn.send('D') { b => b.writeByte('P'); b.writeByte(0) }
      conn.send('E') { b => b.writeByte(0); b.writeInt(0) }
      conn.send('S') { _ => () }
      conn.flushOut()
      val replies = Iterator.continually(conn.readMessage())
        .takeWhile(_._1 != 'Z').map(_._1).toVector
      assert(replies == Vector('1', 'E'),
        s"expected ParseComplete + ErrorResponse only, got $replies")
      // connection is clean after Sync
      assert(conn.query("SELECT 11 AS v").head.rows.head.head.get == "11")
    }
  }

  test("placeholders inside SQL comments are not parameters") {
    withServer { conn =>
      val res = conn.queryExtended(
        "SELECT $1 AS v -- ignore $2 here\n /* and /* $3 */ here */",
        Seq(23 -> Some("5")))
      assert(res.rows.head.head.get == "5")
    }
  }

  test("re-Execute of a completed DML portal does not run it twice") {
    withServer { conn =>
      conn.query("CREATE DATABASE IF NOT EXISTS wire_portal; USE wire_portal")
      try {
        conn.query("CREATE TABLE pt ( A INTEGER )")
        // Parse+Bind an INSERT portal, Execute it twice in one cycle
        conn.send('P') { b =>
          b.writeByte(0)
          b.write("INSERT INTO pt VALUES (1)".getBytes)
          b.writeByte(0); b.writeShort(0)
        }
        conn.send('B') { b =>
          b.writeByte(0); b.writeByte(0)
          b.writeShort(0); b.writeShort(0); b.writeShort(0)
        }
        conn.send('E') { b => b.writeByte(0); b.writeInt(0) }
        conn.send('E') { b => b.writeByte(0); b.writeInt(0) }
        conn.send('S') { _ => () }
        conn.flushOut()
        val replies = Iterator.continually(conn.readMessage())
          .takeWhile(_._1 != 'Z').map(_._1).toVector
        // ParseComplete, BindComplete, CommandComplete, CommandComplete
        assert(replies == Vector('1', '2', 'C', 'C'), s"got $replies")
        assert(conn.query("SELECT count(*) AS c FROM pt").head
          .rows.head.head.get == "1")
      } finally conn.query(
        "USE default; DROP DATABASE IF EXISTS wire_portal CASCADE")
    }
  }

  /** The catalog query psql 14-16 sends for `\dt`. */
  private val dt =
    """SELECT n.nspname as "Schema",
      |  c.relname as "Name",
      |  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
      |  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
      |FROM pg_catalog.pg_class c
      |     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
      |     LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam
      |WHERE c.relkind IN ('r','p','')
      |      AND n.nspname <> 'pg_catalog'
      |      AND n.nspname !~ '^pg_toast'
      |      AND n.nspname <> 'information_schema'
      |  AND pg_catalog.pg_table_is_visible(c.oid)
      |ORDER BY 1,2""".stripMargin

  test("psql's \\dt query joins the catalog relations by broadcast") {
    withServer { conn =>
      val names = conn.query(dt).head.rows.map(_(1).get)
      Tables.all.foreach(t => assert(names.contains(t), names))
      val df = spark.sql(PgDialect.translate(dt))
      df.collect()
      val smj = collect(df.queryExecution.executedPlan) {
        case j: SortMergeJoinExec => j
      }
      assert(smj.isEmpty, df.queryExecution.executedPlan)
    }
  }

  test("Spark jobs per statement: point 1, grouped aggregate 2, \\dt 3") {
    withServer { conn =>
      val point = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = $1"
      val agg =
        """SELECT o_orderstatus, count(*) AS n FROM orders
          |WHERE o_totalprice > 1000.5
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
      def jobs(run: => Unit): Int = {
        run // the first run may load table metadata
        graft.Bench.jobsDuring(spark.sparkContext)(run)._2
      }
      assert(jobs(conn.queryExtended(point, Seq(20 -> Some("7")))) == 1)
      // the scan-and-partial-aggregate stage, then the sort in one task: no
      // range-partition sampling job and no range shuffle
      assert(jobs(conn.query(agg)) == 2)
      // one broadcast per joined catalog relation, then the result
      assert(jobs(conn.query(dt)) == 3)
    }
  }

  /** Runs `f` with `CREATE TABLE t ( A INTEGER )` in a fresh database. */
  private def withTable[A](db: String)(f: WireClient.Conn => A): A =
    withServer { conn =>
      conn.query(s"CREATE DATABASE IF NOT EXISTS $db; USE $db")
      try {
        conn.query("CREATE TABLE t ( A INTEGER )")
        f(conn)
      } finally conn.query(s"USE default; DROP DATABASE IF EXISTS $db CASCADE")
    }

  private def rows(conn: WireClient.Conn): String =
    conn.query("SELECT count(*) AS c FROM t").head.rows.head.head.get

  test("Describe of an INSERT statement runs nothing") {
    withTable("wire_describe") { conn =>
      val (oids, fields) =
        conn.describeStatement("INSERT INTO t VALUES ($1)", Seq(23))
      assert(oids == Vector(23))
      assert(fields.isEmpty)
      assert(rows(conn) == "0")
    }
  }

  test("Parse/Bind/Describe/Execute of an INSERT inserts exactly once") {
    withTable("wire_insert") { conn =>
      val res = conn.queryExtended("INSERT INTO t VALUES ($1)", Seq(23 -> Some("5")))
      assert(res.fields.isEmpty)
      assert(rows(conn) == "1")
      assert(conn.query("SELECT a FROM t").head.rows == Vector(Vector(Some("5"))))
    }
  }

  test("bridged DDL and COPY describe and run over the extended protocol") {
    withTable("wire_bridge") { conn =>
      val create = conn.queryExtended(
        "CREATE TABLE T2 ( A INTEGER NOT NULL, B VARCHAR(10), PRIMARY KEY (A) )")
      assert(create.tag == "CREATE TABLE")
      val f = java.nio.file.Files.createTempFile("wire-", ".tbl")
      java.nio.file.Files.writeString(f, "1|x\n2|y\n")
      val copied = conn.queryExtended(s"COPY t2 FROM '$f' (FORMAT csv, DELIMITER '|')")
      assert(copied.fields == Vector("count" -> 20))
      assert(copied.rows == Vector(Vector(Some("2"))))
    }
  }

  test("binding more portals than the cap errors cleanly") {
    // the cap is read per-connection at message-loop entry, so a conf set
    // before connecting applies to the new connection
    val prev = spark.conf.getOption("spark.graft.wire.maxPortals")
    spark.conf.set("spark.graft.wire.maxPortals", "2")
    try withServer { conn =>
      conn.send('P') { b =>
        b.writeByte(0)
        b.write("SELECT 1 AS v".getBytes)
        b.writeByte(0); b.writeShort(0)
      }
      Seq("pa", "pb", "pc").foreach { name =>
        conn.send('B') { b =>
          b.write(name.getBytes); b.writeByte(0)   // named portal
          b.writeByte(0)                           // unnamed statement
          b.writeShort(0); b.writeShort(0); b.writeShort(0)
        }
      }
      conn.send('S') { _ => () }
      conn.flushOut()
      var err: Option[WireClient.ServerError] = None
      var binds = 0
      var done = false
      while (!done) {
        val (typ, body) = conn.readMessage()
        typ match {
          case '2' => binds += 1
          case 'E' => err = Some(WireClient.parseError(body))
          case 'Z' => done = true
          case _ => ()
        }
      }
      assert(binds == 2)
      assert(err.exists(_.sqlState == "53000"), s"got $err")
      // connection survives
      assert(conn.query("SELECT 9 AS v").head.rows.head.head.get == "9")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.wire.maxPortals", v)
      case None => spark.conf.unset("spark.graft.wire.maxPortals")
    }
  }

  private def withAuth[A](mode: String, users: String)(f: Int => A): A = {
    spark.conf.set("spark.graft.wire.auth", mode)
    spark.conf.set("spark.graft.wire.users", users)
    val server = new WireServer(spark, 0)
    try f(server.boundPort)
    finally {
      server.close()
      spark.conf.unset("spark.graft.wire.auth")
      spark.conf.unset("spark.graft.wire.users")
    }
  }

  test("cleartext password auth: right password in, wrong password out") {
    withAuth("password", "alice:s3cret,bob:hunter2") { port =>
      val conn = new WireClient.Conn("127.0.0.1", port,
        user = "alice", password = "s3cret")
      try assert(conn.query("SELECT 1 AS v").head.rows.head.head.get == "1")
      finally conn.close()

      val bad = intercept[WireClient.ServerError](
        new WireClient.Conn("127.0.0.1", port,
          user = "alice", password = "wrong"))
      assert(bad.sqlState == "28P01")
    }
  }

  test("SCRAM-SHA-256: full exchange authenticates, bad/unknown rejected") {
    withAuth("scram-sha-256", "carol:tops3cret") { port =>
      // success implies the client also verified the SERVER signature
      // (Conn throws on a v= mismatch), i.e. mutual authentication
      val conn = new WireClient.Conn("127.0.0.1", port,
        user = "carol", password = "tops3cret")
      try assert(conn.query("SELECT 2 AS v").head.rows.head.head.get == "2")
      finally conn.close()

      val badPw = intercept[WireClient.ServerError](
        new WireClient.Conn("127.0.0.1", port,
          user = "carol", password = "nope"))
      assert(badPw.sqlState == "28P01")

      // unknown user: mock exchange — same error as a wrong password,
      // so the failure does not reveal whether the role exists
      val noUser = intercept[WireClient.ServerError](
        new WireClient.Conn("127.0.0.1", port,
          user = "mallory", password = "tops3cret"))
      assert(noUser.sqlState == "28P01")
    }
  }

  test("trust mode (default) still connects with no credentials") {
    withAuth("trust", "") { port =>
      val conn = new WireClient.Conn("127.0.0.1", port)
      try assert(conn.query("SELECT 3 AS v").head.rows.head.head.get == "3")
      finally conn.close()
    }
  }

  test("wire round-trip DataFrame matches direct execution") {
    Tables.register(spark, sf0001)
    val sql = "SELECT n_regionkey, count(*) AS nations FROM nation " +
      "GROUP BY n_regionkey"
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .sorted
    val viaWire = pairs(WireQueries.roundtrip(spark, sf0001, sql))
    val direct = pairs(spark.sql(sql))
    assert(viaWire.sameElements(direct))
  }
}
