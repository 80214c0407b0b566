package perfbench

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.server.{WireClient, WireServer}

/** `wire_point`: a `WireServer` over the generated tables with `Clients`
  * closed-loop psql connections running a fixed statement mix:
  * 60% extended-protocol point lookups on `orders.o_orderkey` (the key bound
  * to `$1`), 30% simple-protocol grouped aggregates, 10% the catalog query
  * psql sends for `\dt`. A pass is a block of the `Mix` on every
  * connection, in a seeded order; the block ends when the slowest
  * connection finishes.
  *
  * Every distinct statement's first answer goes to the record for the
  * DuckDB check; every later answer to it must be identical. */
final class WirePoint(b: Bench) {
  import WirePoint._

  private val nOrders = Tables.rowCount(b.spark, b.args.inputs, "orders")
  private val first = new ConcurrentHashMap[String, Seq[Any]]()
  private val mismatch = new ConcurrentHashMap[String, String]()

  def run(): Unit = {
    var server: WireServer = null
    var conns: Seq[WireClient.Conn] = Nil
    val connectMs = mutable.Buffer[Double]()
    b.setup {
      server = b.tables(
        new WireServer(b.spark, 0, Tables.register(_, b.args.inputs)))
      conns = (0 until Clients).map { _ =>
        val c0 = Clock.nowNs
        val c = new WireClient.Conn("127.0.0.1", server.boundPort)
        connectMs += (Clock.nowNs - c0) / 1e6
        c
      }
      b.op("point", "point", -1)(point(conns.head, 0L))
    }
    b.layers("tables.loads") = Tables.all.size
    b.layers("server.connect_ms") = connectMs.sum / connectMs.size
    b.assertNoDeniedClasses()

    val pool = Executors.newFixedThreadPool(Clients)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val rngs = (0 until Clients).map(c =>
      new scala.util.Random(b.args.seed * 1000003L + c))
    def block(pass: Int): Unit = {
      val fs = conns.zipWithIndex.map { case (c, k) =>
        Future(statements(c, rngs(k), pass))
      }
      Await.result(Future.sequence(fs), Duration.Inf)
    }
    try {
      b.warmup(4)(block)
      b.measure(block)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      conns.foreach(_.close())
      server.close()
    }
    b.outputs("statements") = first.asScala.toMap
    mismatch.asScala.foreach { case (k, v) => b.check(k, ok = false, v) }
  }

  /** One connection's share of a block: the fixed mix in a seeded order. */
  private def statements(c: WireClient.Conn, r: scala.util.Random,
      pass: Int): Unit =
    r.shuffle(Mix).foreach(kind => statement(c, kind, r, pass))

  private def statement(c: WireClient.Conn, kind: String,
      r: scala.util.Random, pass: Int): Unit = {
    // the op key is the server pid, the id in the connection's job group
    val pid = c.backendKey._1.toString
    kind match {
      case "point" => b.op("point", "point", pass, pid)(
        point(c, (r.nextDouble() * nOrders).toLong))
      case "catalog" => b.op("catalog", "catalog", pass, pid)(
        answer(CatalogSql, None, c.query(CatalogSql).last))
      case agg =>
        val sql = aggregate(agg, r)
        b.op("agg", "agg", pass, pid)(answer(sql, None, c.query(sql).last))
    }
  }

  private def point(c: WireClient.Conn, key: Long): Unit =
    answer(PointSql, Some(key),
      c.queryExtended(PointSql, Seq(20 -> Some(key.toString))))

  private def aggregate(kind: String, r: scala.util.Random): String =
    kind match {
      case "agg_orders" =>
        val y = 1995 + r.nextInt(6)
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS total_cents
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '$y-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '${y + 1}-01-01 00:00:00'
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
      case "agg_customer" =>
        s"""SELECT c_mktsegment, count(*) AS n,
           |  CAST(round(sum(c_acctbal) * 100) AS BIGINT) AS bal_cents
           |FROM customer WHERE c_nationkey = ${r.nextInt(25)}
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
      case "agg_lineitem" =>
        val m = 1 + r.nextInt(12)
        s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
           |  CAST(sum(l_quantity) AS BIGINT) AS qty
           |FROM lineitem
           |WHERE l_shipdate < TIMESTAMP '1999-${"%02d".format(m)}-01 00:00:00'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin
    }

  /** Keep the first answer to each distinct statement for the DuckDB check;
    * flag any later answer that differs from it. */
  private def answer(sql: String, param: Option[Long],
      res: WireClient.Result): Unit = {
    val key = sql + param.fold("")(p => s"\u0000$p")
    val got = Seq(sql, param.map(Long.box).orNull,
      res.fields.map { case (n, t) => Seq(n, t) }, res.rows.map(_.map(_.orNull)))
    val prev = first.putIfAbsent(key, got)
    if (prev != null && prev != got)
      mismatch.put(s"wire.stable:${key.take(60)}",
        "a repeated statement returned a different answer")
  }
}

object WirePoint {
  val Clients = 4

  /** Statements per connection and block: 60% point lookups, 30% grouped
    * aggregates (one per template), 10% catalog. */
  val Mix: Seq[String] = Seq.fill(6)("point") ++
    Seq("agg_orders", "agg_customer", "agg_lineitem", "catalog")

  val PointSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey = $1""".stripMargin

  /** The catalog query psql 14-16 sends for `\dt`. */
  val CatalogSql: String =
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
      |ORDER BY 1,2;""".stripMargin
}
