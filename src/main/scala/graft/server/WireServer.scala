package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.NamedParameterContext
import org.apache.spark.sql.execution.{CommandExecutionMode, QueryExecution}
import org.apache.spark.sql.types._

import graft.ddl.PgText

/** PostgreSQL wire-protocol (v3) server over Spark SQL.
  *
  * Capability parity with the reference's `plandb` binary, which serves
  * interactive SQL on the psql wire protocol (cmd/main/main.go:68 via
  * jeroenrinzema/psql-wire; one goroutine per connection, each query string
  * routed through InitRunner). Here each accepted connection gets a daemon
  * thread and every statement is executed by `spark.sql` on the shared
  * session — parsing/planning/execution are Catalyst's, and the server is
  * only framing. The message formats implemented below are the public
  * protocol spec (PostgreSQL docs, "Frontend/Backend Protocol"): startup +
  * SSL/GSS negotiation (refused with 'N'), trust auth, the simple query
  * cycle ('Q' → RowDescription, DataRows, CommandComplete, ReadyForQuery),
  * and the extended cycle (Parse/Bind/Describe/Execute/Close/Flush/Sync)
  * with parameter binding: `$n` placeholders in code are rewritten
  * ([[PgDialect.translateParams]]) to Spark named parameter markers and
  * bound through the public
  * `spark.sql(sqlText, args)` API, so a bound value is a typed literal in
  * the plan — never string-spliced into the query text. Text-format
  * parameters cover the OIDs the reference's type system exercises
  * (bool/int2/int4/int8/float4/float8/numeric/date/timestamp/bytea/text);
  * binary format covers the fixed-width numerics. Execute honors the
  * max-rows field with PortalSuspended, so cursor-style fetch loops
  * (JDBC setFetchSize) stream bounded batches off the open iterator.
  * Portals survive Sync — the autocommit-off contract drivers rely on for
  * suspended portals; this server has no transactions to end.
  *
  * Results stream through `toLocalIterator` — the server never
  * materializes a result set on the driver, so a huge SELECT is bounded by
  * one partition's rows in memory, not the result (the 100 TB posture for
  * a wire interface: the client is the sink, partitions arrive in order).
  *
  * Binds 127.0.0.1 only. Auth is trust by default (the reference's dev
  * posture — its psql-wire setup configures no auth either); set
  * `spark.graft.wire.auth` to "password" (AuthenticationCleartextPassword)
  * or "scram-sha-256" (the RFC 7677 SASL exchange psql speaks, with
  * mock-auth for unknown users) against the `spark.graft.wire.users`
  * credential list.
  */
final class WireServer(
    spark: SparkSession,
    port: Int = 0,
    prepare: SparkSession => Unit = _ => ()) extends AutoCloseable {

  prepare(spark)
  // psql introspection (`\dt`, `\d t`) resolves through pg_catalog.*
  PgCatalog.install(spark)

  private val socket = new ServerSocket(port, 64, InetAddress.getLoopbackAddress)
  private val running = new AtomicBoolean(true)
  private val conns = java.util.Collections.synchronizedSet(
    new java.util.HashSet[Socket]())

  // Cancellation registry: BackendKeyData (pid, secret) → Spark job group.
  // A CancelRequest on a fresh connection looks up the key and cancels the
  // group; the victim's running job dies and its statement surfaces
  // SQLSTATE 57014 while the connection stays usable (the pg contract).
  private val pidGen = new java.util.concurrent.atomic.AtomicInteger(0)
  private val rnd = new java.security.SecureRandom()
  private val cancelKeys =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), String]()

  /** Ephemeral-port lookup for tests/clients. */
  def boundPort: Int = socket.getLocalPort

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val s = socket.accept()
        conns.add(s)
        val t = new Thread(() => {
          try handleConnection(s)
          catch { case NonFatal(_) | (_: IOException) => () }
          finally { conns.remove(s); try s.close() catch { case _: IOException => () } }
        }, s"graft-wire-conn-${s.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => () // closed during accept — shutting down
        case NonFatal(_) => ()
      }
    }
  }, "graft-wire-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = {
    running.set(false)
    try socket.close() catch { case _: IOException => () }
    conns.forEach(s => try s.close() catch { case _: IOException => () })
    conns.clear()
  }

  // ---------------------------------------------------------------- protocol

  private val PROTOCOL_V3 = 196608      // 3 << 16
  private val SSL_REQUEST = 80877103
  private val GSS_REQUEST = 80877104
  private val CANCEL_REQUEST = 80877102

  private def handleConnection(s: Socket): Unit = {
    s.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream))

    // Startup phase: loop so an SSLRequest/GSSENCRequest (refused) can be
    // followed by the real StartupMessage on the same connection.
    var params = Map.empty[String, String]
    var started = false
    while (!started) {
      val len = in.readInt()
      val code = in.readInt()
      code match {
        case SSL_REQUEST | GSS_REQUEST =>
          out.write('N'); out.flush()
        case CANCEL_REQUEST =>
          val pid = in.readInt(); val secret = in.readInt()
          Option(cancelKeys.get((pid, secret)))
            .foreach(spark.sparkContext.cancelJobGroup)
          return // cancel connections carry no further traffic
        case PROTOCOL_V3 =>
          val body = new Array[Byte](len - 8)
          in.readFully(body)
          params = parseStartupParams(body)
          started = true
        case v =>
          sendError(out, "08P01", s"unsupported protocol version $v")
          out.flush(); return
      }
    }

    // Authentication (trust / cleartext password / SCRAM-SHA-256) then the
    // session preamble. authenticate() sends AuthenticationOk on success.
    if (!authenticate(in, out, params.getOrElse("user", ""))) {
      out.flush(); return
    }
    PgDialect.reported(spark.sessionState.conf).foreach { case (k, v) =>
      msg(out, 'S') { b => writeCString(b, k); writeCString(b, v) }
    }
    val pid = pidGen.incrementAndGet()
    val secret = rnd.nextInt()
    val jobGroup = s"graft-wire-$pid"
    // this thread parses and plans for `spark` only
    SparkSession.setActiveSession(spark)
    cancelKeys.put((pid, secret), jobGroup)
    // statements run on THIS thread; the group is thread-local, so every
    // job a statement triggers is cancellable by key
    spark.sparkContext.setJobGroup(jobGroup,
      s"wire connection $pid", interruptOnCancel = true)
    msg(out, 'K') { b => b.writeInt(pid); b.writeInt(secret) } // BackendKeyData
    readyForQuery(out)
    out.flush()
    try handleMessages(s, in, out)
    finally cancelKeys.remove((pid, secret))
  }

  // ------------------------------------------------------------------ auth

  /** Credential store: `spark.graft.wire.users` = "user:password,..." —
    * dev-grade, like a plaintext pg password file; a real deployment would
    * load pre-derived SCRAM verifiers instead of passwords. */
  private def wireUsers: Map[String, String] =
    spark.conf.get("spark.graft.wire.users", "").split(",").iterator
      .map(_.trim).filter(_.contains(":"))
      .map { s =>
        val i = s.indexOf(':')
        s.substring(0, i) -> s.substring(i + 1)
      }.toMap

  private def readTyped(in: DataInputStream): (Char, Array[Byte]) = {
    val typ = in.readByte().toChar
    val len = in.readInt()
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    (typ, body)
  }

  /** Run the auth exchange selected by `spark.graft.wire.auth`
    * ("trust" default, "password" = AuthenticationCleartextPassword,
    * "scram-sha-256" = the SASL exchange psql speaks). Returns true and
    * sends AuthenticationOk on success; sends 28P01 and returns false on
    * failure. Unknown users go through a mock SCRAM exchange against a
    * random secret (the PostgreSQL mock-auth idiom), so the error is
    * indistinguishable from a wrong password — no user enumeration. */
  private def authenticate(in: DataInputStream, out: DataOutputStream,
      user: String): Boolean = {
    def ok(): Boolean = { msg(out, 'R') { b => b.writeInt(0) }; true }
    def reject(): Boolean = {
      sendError(out, "28P01",
        s"""password authentication failed for user "$user"""")
      false
    }
    spark.conf.get("spark.graft.wire.auth", "trust") match {
      case "trust" => ok()

      case "password" =>
        msg(out, 'R') { b => b.writeInt(3) } // AuthenticationCleartextPassword
        out.flush()
        val (typ, body) = readTyped(in)
        if (typ != 'p') {
          sendError(out, "08P01", s"expected PasswordMessage, got '$typ'")
          false
        } else if (wireUsers.get(user).contains(cString(body, 0)._1)) ok()
        else reject()

      case "scram-sha-256" =>
        msg(out, 'R') { b =>               // AuthenticationSASL: mechanisms
          b.writeInt(10)
          writeCString(b, WireAuth.Mechanism)
          b.writeByte(0)
        }
        out.flush()
        val secret = wireUsers.getOrElse(user,
          java.util.UUID.randomUUID().toString) // mock-auth for unknown users
        val (t1, b1) = readTyped(in)
        if (t1 != 'p') {
          sendError(out, "08P01", s"expected SASLInitialResponse, got '$t1'")
          return false
        }
        val (mech, p1) = cString(b1, 0)
        if (mech != WireAuth.Mechanism) {
          sendError(out, "28000", s"unsupported SASL mechanism $mech")
          return false
        }
        val rlen = readInt(b1, p1)
        val clientFirst = new String(b1, p1 + 4, rlen, UTF_8)
        // gs2 header ("n,," — no channel binding) then client-first-bare
        val gsEnd = clientFirst.indexOf(",,")
        if (gsEnd < 0) {
          sendError(out, "08P01", "malformed client-first-message"); return false
        }
        val gs2 = clientFirst.substring(0, gsEnd + 2)
        val bare = clientFirst.substring(gsEnd + 2)
        val clientNonce = WireAuth.attrs(bare).getOrElse('r', {
          sendError(out, "08P01", "client-first-message lacks nonce")
          return false
        })
        val salt = new Array[Byte](16)
        rnd.nextBytes(salt)
        val salted = WireAuth.saltedPassword(secret, salt, WireAuth.Iterations)
        val fullNonce = clientNonce + WireAuth.freshNonce(rnd)
        val serverFirst =
          s"r=$fullNonce,s=${WireAuth.b64(salt)},i=${WireAuth.Iterations}"
        msg(out, 'R') { b =>               // AuthenticationSASLContinue
          b.writeInt(11); b.write(serverFirst.getBytes(UTF_8))
        }
        out.flush()
        val (t2, b2) = readTyped(in)
        if (t2 != 'p') {
          sendError(out, "08P01", s"expected SASLResponse, got '$t2'")
          return false
        }
        val clientFinal = new String(b2, UTF_8)
        val fin = WireAuth.attrs(clientFinal)
        val proofAt = clientFinal.lastIndexOf(",p=")
        if (proofAt < 0 || !fin.contains('p') ||
            !fin.get('r').contains(fullNonce) ||
            !fin.get('c').contains(WireAuth.b64(gs2.getBytes(UTF_8)))) {
          sendError(out, "08P01", "malformed client-final-message")
          return false
        }
        val authMessage =
          bare + "," + serverFirst + "," + clientFinal.substring(0, proofAt)
        val storedKey = WireAuth.storedKey(WireAuth.clientKey(salted))
        val recoveredClientKey = WireAuth.xor(
          WireAuth.unb64(fin('p')),
          WireAuth.hmac(storedKey, authMessage))
        if (!java.security.MessageDigest.isEqual(
            WireAuth.sha256(recoveredClientKey), storedKey)) reject()
        else {
          val serverSig =
            WireAuth.hmac(WireAuth.serverKey(salted), authMessage)
          msg(out, 'R') { b =>             // AuthenticationSASLFinal
            b.writeInt(12)
            b.write(s"v=${WireAuth.b64(serverSig)}".getBytes(UTF_8))
          }
          ok()
        }

      case other =>
        sendError(out, "0A000", s"unsupported auth mode '$other'")
        false
    }
  }

  private def handleMessages(s: Socket, in: DataInputStream,
      out: DataOutputStream): Unit = {

    // Extended-protocol state: prepared statements and bound portals.
    val statements = mutable.Map.empty[String, Prepared]
    val portals = mutable.Map.empty[String, Portal]
    // After an ErrorResponse mid extended cycle the protocol requires the
    // backend to DISCARD further extended messages until Sync — a
    // pipelining driver has already sent Describe/Execute for the failed
    // Bind and must not receive spurious NoData/EmptyQueryResponse for
    // them. Set by extErr, cleared by Sync (and by a simple Query, which
    // ends its own cycle with ReadyForQuery).
    var syncError = false
    def extErr(code: String, message: String): Unit = {
      sendError(out, code, message)
      syncError = true
    }
    val maxPortals =
      spark.conf.get("spark.graft.wire.maxPortals", "64").toInt

    var open = true
    while (open) {
      val typ =
        try in.readByte().toChar
        catch { case _: EOFException => return }
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      if (syncError && "PBDECH".contains(typ)) {
        // skip-until-Sync: message consumed, no reply
      } else typ match {
        case 'Q' =>
          syncError = false
          val sql = cString(body, 0)._1
          simpleQuery(out, sql)
          readyForQuery(out); out.flush()

        case 'P' => // Parse: name, query, declared param type oids
          val (name, p1) = cString(body, 0)
          val (query, p2) = cString(body, p1)
          val nOids = readShort(body, p2)
          val oids = Vector.tabulate(nOids)(i => readInt(body, p2 + 2 + i * 4))
          val (rewritten, nParams) = PgDialect.translateParams(query)
          // pg allows declaring fewer oids than $n markers; pad unknowns
          val padded = oids.padTo(nParams, 0)
          statements(name) = Prepared(rewritten, padded)
          msg(out, '1') { _ => () }                            // ParseComplete

        case 'B' => // Bind: portal, statement, param formats + values
          val (portal, p1) = cString(body, 0)
          val (stmt, p2) = cString(body, p1)
          val nFmts = readShort(body, p2)
          val fmts = Vector.tabulate(nFmts)(i => readShort(body, p2 + 2 + i * 2))
          var pos = p2 + 2 + nFmts * 2
          val nParams = readShort(body, pos); pos += 2
          val raw = Vector.newBuilder[Option[Array[Byte]]]
          (0 until nParams).foreach { _ =>
            val vlen = readInt(body, pos); pos += 4
            if (vlen < 0) raw += None
            else { raw += Some(body.slice(pos, pos + vlen)); pos += vlen }
          }
          val nResFmts = readShort(body, pos)
          val resFmts = Vector.tabulate(nResFmts)(i =>
            readShort(body, pos + 2 + i * 2))
          val prepOpt = statements.get(stmt)
          val prep = prepOpt.getOrElse(Prepared("", Vector.empty))
          if (prepOpt.isEmpty && stmt.nonEmpty) {
            // binding a never-parsed NAMED statement is a protocol error —
            // silently binding "" would turn a dropped Parse failure into
            // a successful empty result (the pg error, SQLSTATE 26000)
            portals.remove(portal)
            extErr("26000",
              s"prepared statement \"$stmt\" does not exist")
          } else if (resFmts.exists(_ == 1)) {
            portals.remove(portal)
            extErr("0A000", "binary result format not supported")
          } else if (nParams < prep.paramOids.length) {
            // a failed Bind must not leave the prior portal under this
            // name executable — Execute would resume the WRONG query
            portals.remove(portal)
            extErr("08P01",
              s"bind supplies $nParams parameters, " +
                s"statement needs ${prep.paramOids.length}")
          } else if (!portals.contains(portal) && portals.size >= maxPortals) {
            // resource guard: each suspended portal pins a toLocalIterator
            // (an active Spark job's worth of state); a client binding
            // unboundedly many without draining gets a clean resource
            // error (SQLSTATE 53000) instead of exhausting the executor
            extErr("53000",
              s"too many open portals (max $maxPortals); " +
                "Close or drain existing portals first")
          } else {
            try {
              val args = raw.result().zipWithIndex.map { case (bytes, i) =>
                val fmt =
                  if (fmts.isEmpty) 0
                  else if (fmts.length == 1) fmts.head
                  else fmts(i)
                val oid = prep.paramOids.lift(i).getOrElse(0)
                s"p${i + 1}" -> bytes.map(convertParam(oid, fmt, _)).orNull
              }.toMap
              portals(portal) = new Portal(prep.sql, args)
              msg(out, '2') { _ => () }                        // BindComplete
            } catch {
              case NonFatal(e) =>
                portals.remove(portal)
                extErr("22P02", exMessage(e))
            }
          }

        case 'D' => // Describe 'S' statement | 'P' portal
          val kind = body(0).toChar
          val (name, _) = cString(body, 1)
          try {
            // (parameter oids, plan): planning runs nothing, so Describe
            // never executes the statement
            val described: Option[(Vector[Int], Plan)] =
              if (kind == 'S')
                statements.get(name).filter(_.sql.trim.nonEmpty).map { p =>
                  // schema derivation needs bound markers: typed zero values
                  val zeros = p.paramOids.zipWithIndex.map { case (oid, i) =>
                    s"p${i + 1}" -> zeroValue(oid)
                  }.toMap
                  (p.paramOids, plan(p.sql, zeros))
                }
              else portals.get(name).filter(_.sql.trim.nonEmpty)
                .map(p => (Vector.empty, p.plan))
            described match {
              case None => msg(out, 'n') { _ => () }           // NoData
              case Some((oids, plan)) =>
                if (kind == 'S')
                  msg(out, 't') { b =>                         // ParameterDescription
                    b.writeShort(oids.length)
                    oids.foreach(oid => b.writeInt(if (oid == 0) 25 else oid))
                  }
                if (plan.schema.isEmpty) msg(out, 'n') { _ => () }
                else rowDescription(out, plan.schema)
            }
          } catch {
            case NonFatal(e) => extErr("42601", exMessage(e))
          }

        case 'E' => // Execute: portal name, max rows (0 = all)
          val (portal, p1) = cString(body, 0)
          val maxRows = readInt(body, p1)
          portals.get(portal).filter(_.sql.trim.nonEmpty) match {
            case None => msg(out, 'I') { _ => () }             // EmptyQueryResponse
            case Some(p) =>
              if (!executePortal(out, p, maxRows)) syncError = true
          }

        case 'C' => // Close statement/portal
          val kind = body(0).toChar
          val (name, _) = cString(body, 1)
          if (kind == 'S') statements.remove(name)
          else portals.remove(name).foreach(_.release())
          msg(out, '3') { _ => () }                            // CloseComplete

        case 'S' =>                                            // Sync
          syncError = false
          readyForQuery(out); out.flush()
        case 'H' => out.flush()                                // Flush
        case 'X' => open = false                               // Terminate
        case 'F' | 'd' | 'c' | 'f' =>
          sendError(out, "0A000", s"message '$typ' not supported")
          readyForQuery(out); out.flush()
        case other =>
          sendError(out, "08P01", s"unknown message type '$other'")
          readyForQuery(out); out.flush()
      }
    }
  }

  /** A parsed statement: SQL with `$n` rewritten to `:pn` named markers,
    * plus the declared parameter type OIDs (padded to the marker count). */
  private final case class Prepared(sql: String, paramOids: Vector[Int])

  /** A bound portal. Plans its statement once, on first Describe or
    * Execute, and holds the result iterator across Execute messages so a
    * max-rows Execute can suspend and a later one resume. Once run to
    * completion, `completedTag` records the final CommandComplete tag — a
    * later Execute on the same portal answers with that tag idempotently
    * instead of re-running the statement (re-running DML twice on a client
    * retry would be a silent double-write). */
  private final class Portal(val sql: String, val args: Map[String, Any]) {
    lazy val plan: Plan = WireServer.this.plan(sql, args)
    var it: java.util.Iterator[org.apache.spark.sql.Row] = _
    var schema: StructType = _
    var rowsSent: Long = 0
    var completedTag: String = _
    /** Drop iterator state (explicit Close): releases the toLocalIterator
      * and any partition buffers it still references. */
    def release(): Unit = {
      it match {
        case c: AutoCloseable => try c.close() catch { case NonFatal(_) => }
        case _ => ()
      }
      it = null
    }
  }

  /** A statement planned with its values bound, before anything runs:
    * its result schema, and its analysis, which Execute runs as is. None
    * for the statements [[graft.ddl.SqlBridge]] runs itself. */
  private final class Plan(val schema: StructType,
      val analyzed: Option[QueryExecution]) {
    /** The statement's frame. Building it runs a command (Spark runs a
      * command as it builds its frame); the analyzer leaves the analyzed
      * plan as it is. */
    def frame(): Option[DataFrame] = analyzed.map(qe =>
      new classic.Dataset[Row](qe.sparkSession, qe.analyzed,
        Encoders.row(schema)))
  }

  /** Parse and analyze `sql` with `args` bound, the way `spark.sql(sql,
    * args)` does, but run nothing. Transaction control and the statements
    * [[graft.ddl.SqlBridge]] runs itself (Spark's parser rejects them) are
    * commands without reaching the parser. */
  private def plan(sql: String, args: Map[String, Any]): Plan = {
    // txn control never reaches the SQL parser: its tag is its whole result
    val commandSchema =
      if (txnTag(sql).isDefined) Some(new StructType())
      else if (args.isEmpty) graft.ddl.SqlBridge.bridgedSchema(sql)
      else None
    commandSchema match {
      case Some(schema) => new Plan(schema, None)
      case None =>
        val parsed = spark.sessionState.sqlParser.parsePlanWithParameters(sql,
          NamedParameterContext(args.map { case (k, v) => k -> Literal.create(v) }))
        val qe = spark.sessionState.executePlan(parsed, CommandExecutionMode.SKIP)
        qe.assertAnalyzed()
        new Plan(qe.analyzed.schema, Some(qe))
    }
  }

  /** Execute, for both protocols: stream up to `maxRows` (0 = all) rows
    * off the portal's iterator; PortalSuspended if the limit hit with rows
    * remaining, CommandComplete when drained. Returns false when an error
    * was sent (an extended cycle then skips until Sync; a simple Query
    * stops). */
  private def executePortal(
      out: DataOutputStream, p: Portal, maxRows: Int): Boolean = {
    try {
      if (p.completedTag != null) {
        // already run to completion: idempotent CommandComplete only
        commandComplete(out, p.completedTag); return true
      }
      txnTag(p.sql) match {
        case Some(tag) =>
          // Transaction control: every pg client sends these (psql -1,
          // JDBC autocommit(false)); the engine is auto-commit like the
          // reference, so BEGIN/COMMIT are no-ops acknowledged with the
          // exact pg command tag. ROLLBACK additionally carries pg's own
          // outside-a-transaction WARNING (25P01) so a client that wrote
          // "inside" a transaction and rolled back cannot believe the
          // already-persisted writes were undone — exactly what stock pg
          // emits for ROLLBACK with no open transaction, which is the
          // truthful description of this engine.
          warnIfRollback(out, tag)
          p.completedTag = tag
          commandComplete(out, p.completedTag); return true
        case None => ()
      }
      if (p.it == null) {
        // a query streams the portal's one plan; a command runs here, once
        val df = p.plan.frame()
          .getOrElse(graft.ddl.SqlBridge.execute(spark, p.sql))
        p.schema = df.schema
        if (p.schema.isEmpty) {
          df.collect()
          p.completedTag = commandTag(p.sql, -1)
          commandComplete(out, p.completedTag); return true
        }
        p.it = df.toLocalIterator()
      }
      var n = 0L
      while (p.it.hasNext && (maxRows <= 0 || n < maxRows)) {
        dataRow(out, p.it.next(), p.schema)
        n += 1
      }
      p.rowsSent += n
      if (p.it.hasNext) msg(out, 's') { _ => () }              // PortalSuspended
      else {
        p.completedTag = commandTag(p.sql, p.rowsSent)
        p.release()
        commandComplete(out, p.completedTag)
      }
      true
    } catch {
      case NonFatal(e) => sendStatementError(out, e); false
    }
  }

  /** Simple-query cycle: the protocol defines a simple Query as an
    * unnamed portal per statement, so each statement is planned, described
    * by a RowDescription when it returns rows, and executed with no row
    * limit. As in pg, the first ErrorResponse aborts the rest of the query
    * string. */
  private def simpleQuery(out: DataOutputStream, sql: String): Unit = {
    val stmts = PgText.statements(sql).map(PgDialect.translate)
    if (stmts.isEmpty) { msg(out, 'I') { _ => () }; return }   // EmptyQueryResponse
    stmts.forall { stmt =>
      val p = new Portal(stmt, Map.empty)
      try {
        if (p.plan.schema.nonEmpty) rowDescription(out, p.plan.schema)
        executePortal(out, p, maxRows = 0)
      } catch {
        case NonFatal(e) => sendStatementError(out, e); false
      } finally p.release()
    }
  }

  private def sendStatementError(out: DataOutputStream, e: Throwable): Unit = {
    val cancelled = {
      var c: Throwable = e; var found = false
      while (c != null && !found) {
        val m = Option(c.getMessage).getOrElse("")
        found = m.contains("cancelled") || m.contains("canceled")
        c = c.getCause
      }
      found
    }
    if (cancelled)
      sendError(out, "57014", "canceling statement due to user request")
    else sendError(out, "42601", exMessage(e))
  }

  // ------------------------------------------------------------- encoding

  private def msg(out: DataOutputStream, typ: Char)(
      write: DataOutputStream => Unit): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    val b = new DataOutputStream(buf)
    write(b)
    out.writeByte(typ)
    out.writeInt(4 + buf.size())
    buf.writeTo(out)
  }

  private def readyForQuery(out: DataOutputStream): Unit =
    msg(out, 'Z') { b => b.writeByte('I') }

  private def commandComplete(out: DataOutputStream, tag: String): Unit =
    msg(out, 'C') { b => writeCString(b, tag) }

  /** pg transaction-control statement → its stock pg command tag; None
    * for everything else. The engine is auto-commit (like the reference),
    * so these are tagged no-ops that must never reach the SQL parser. */
  private def txnTag(sql: String): Option[String] = {
    val head = sql.trim.split("\\s+").headOption
      .map(_.toUpperCase).getOrElse("")
    if (!Set("BEGIN", "COMMIT", "ROLLBACK", "END", "START")(head)) None
    else Some(head match {
      case "END" | "COMMIT" => "COMMIT"
      case "START" => "START TRANSACTION"
      case t => t
    })
  }

  /** ROLLBACK gets pg's outside-a-transaction WARNING so clients can't
    * believe persisted writes were undone. */
  private def warnIfRollback(out: DataOutputStream, tag: String): Unit =
    if (tag == "ROLLBACK")
      sendNotice(out, "WARNING", "25P01",
        "there is no transaction in progress (auto-commit engine: " +
          "writes are persisted at statement end and cannot be " +
          "rolled back)")

  /** NoticeResponse — same field layout as ErrorResponse, type 'N'. */
  private def sendNotice(out: DataOutputStream, severity: String,
      sqlState: String, message: String): Unit = {
    msg(out, 'N') { b =>
      b.writeByte('S'); writeCString(b, severity)
      b.writeByte('V'); writeCString(b, severity)
      b.writeByte('C'); writeCString(b, sqlState)
      b.writeByte('M'); writeCString(b, message)
      b.writeByte(0)
    }
    out.flush()
  }

  private def sendError(out: DataOutputStream, sqlState: String,
      message: String): Unit = {
    msg(out, 'E') { b =>
      b.writeByte('S'); writeCString(b, "ERROR")
      b.writeByte('V'); writeCString(b, "ERROR")
      b.writeByte('C'); writeCString(b, sqlState)
      b.writeByte('M'); writeCString(b, message)
      b.writeByte(0)
    }
    out.flush()
  }

  private def rowDescription(out: DataOutputStream, schema: StructType): Unit =
    msg(out, 'T') { b =>
      b.writeShort(schema.length)
      schema.fields.foreach { f =>
        writeCString(b, f.name)
        b.writeInt(0)                       // table OID (none)
        b.writeShort(0)                     // attnum
        val (oid, typlen) = pgType(f.dataType)
        b.writeInt(oid)
        b.writeShort(typlen)
        b.writeInt(-1)                      // typmod
        b.writeShort(0)                     // text format
      }
    }

  private def dataRow(out: DataOutputStream, row: org.apache.spark.sql.Row,
      schema: StructType): Unit =
    msg(out, 'D') { b =>
      b.writeShort(schema.length)
      var i = 0
      while (i < schema.length) {
        if (row.isNullAt(i)) b.writeInt(-1)
        else {
          val bytes = textValue(row.get(i), schema(i).dataType).getBytes(UTF_8)
          b.writeInt(bytes.length)
          b.write(bytes)
        }
        i += 1
      }
    }

  /** (type OID, typlen) per the public pg_type catalog values. */
  private def pgType(dt: DataType): (Int, Int) = dt match {
    case BooleanType => (16, 1)
    case ByteType | ShortType => (21, 2)    // int2
    case IntegerType => (23, 4)             // int4
    case LongType => (20, 8)                // int8
    case FloatType => (700, 4)              // float4
    case DoubleType => (701, 8)             // float8
    case _: DecimalType => (1700, -1)       // numeric
    case DateType => (1082, 4)
    case TimestampType | TimestampNTZType => (1114, 8)
    case BinaryType => (17, -1)             // bytea
    case _ => (25, -1)                      // text
  }

  /** Text-format encoding per the public protocol conventions. */
  private def textValue(v: Any, dt: DataType): String = (v, dt) match {
    case (b: Boolean, _) => if (b) "t" else "f"
    case (b: Array[Byte], _) =>
      "\\x" + b.map(x => f"$x%02x").mkString          // bytea hex format
    case (s: scala.collection.Seq[_], _) =>
      s.map(e => if (e == null) "NULL" else e.toString).mkString("{", ",", "}")
    case (m: scala.collection.Map[_, _], _) =>
      m.map { case (k, x) => s"$k=>$x" }.mkString("{", ",", "}")
    case (x, _) => x.toString
  }

  /** Pg-style command tags ("SELECT 3", "INSERT 0 5", "CREATE TABLE"). */
  private def commandTag(stmt: String, rows: Long): String = {
    val words = stmt.trim.split("\\s+").take(2).map(_.toUpperCase)
    val head = words.headOption.getOrElse("")
    head match {
      case "SELECT" | "WITH" | "VALUES" | "TABLE" | "SHOW" | "DESCRIBE" |
           "EXPLAIN" => s"SELECT ${math.max(rows, 0)}"
      case "INSERT" => s"INSERT 0 ${math.max(rows, 0)}"
      case "UPDATE" => s"UPDATE ${math.max(rows, 0)}"
      case "DELETE" => s"DELETE ${math.max(rows, 0)}"
      case "CREATE" | "DROP" | "ALTER" =>
        (words.toSeq match {
          case Seq(a, b) => s"$a $b"
          case _ => head
        })
      case "" => "OK"
      case other => other
    }
  }

  // ---------------------------------------------------------------- parsing

  private def parseStartupParams(body: Array[Byte]): Map[String, String] = {
    var pos = 0
    val m = mutable.Map.empty[String, String]
    while (pos < body.length && body(pos) != 0) {
      val (k, p1) = cString(body, pos)
      if (p1 < body.length) {
        val (v, p2) = cString(body, p1)
        m(k) = v
        pos = p2
      } else pos = p1
    }
    m.toMap
  }

  private def cString(b: Array[Byte], from: Int): (String, Int) = {
    var end = from
    while (end < b.length && b(end) != 0) end += 1
    (new String(b, from, end - from, UTF_8), math.min(end + 1, b.length))
  }

  private def readShort(b: Array[Byte], at: Int): Int =
    ((b(at) & 0xff) << 8) | (b(at + 1) & 0xff)

  private def readInt(b: Array[Byte], at: Int): Int =
    ((b(at) & 0xff) << 24) | ((b(at + 1) & 0xff) << 16) |
      ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)

  /** Decode one bound parameter to a typed Scala value `spark.sql(_, args)`
    * can take as a literal. Format 0 = text (pg text conventions per OID),
    * format 1 = binary (fixed-width numerics and bool only). */
  private def convertParam(oid: Int, fmt: Int, bytes: Array[Byte]): Any = {
    if (fmt == 1) {
      val bb = java.nio.ByteBuffer.wrap(bytes) // network order
      oid match {
        case 16 => bytes(0) != 0
        case 21 => bb.getShort
        case 23 => bb.getInt
        case 20 => bb.getLong
        case 700 => bb.getFloat
        case 701 => bb.getDouble
        case 17 => bytes
        case other => throw new IllegalArgumentException(
          s"binary format not supported for parameter type oid $other")
      }
    } else {
      val s = new String(bytes, UTF_8)
      oid match {
        case 16 => s == "t" || s == "true" || s == "1" || s == "on"
        case 21 => s.trim.toShort
        case 23 => s.trim.toInt
        case 20 => s.trim.toLong
        case 700 => s.trim.toFloat
        case 701 => s.trim.toDouble
        case 1700 => new java.math.BigDecimal(s.trim)
        case 1082 => java.sql.Date.valueOf(s.trim)
        case 1114 | 1184 =>
          // "yyyy-MM-dd HH:mm:ss[.ffffff]" with an optional zone suffix
          java.sql.Timestamp.valueOf(s.trim.replaceFirst("[+-]\\d\\d(:?\\d\\d)?$", ""))
        case 17 =>
          if (s.startsWith("\\x"))
            s.drop(2).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
          else bytes
        case _ => s // unknown/text/varchar: bind as string
      }
    }
  }

  /** A typed placeholder value per OID, used only to derive a Describe
    * schema before real values are bound. */
  private def zeroValue(oid: Int): Any = oid match {
    case 16 => false
    case 21 => 0.toShort
    case 23 => 0
    case 20 => 0L
    case 700 => 0f
    case 701 => 0d
    case 1700 => java.math.BigDecimal.ZERO
    case 1082 => java.sql.Date.valueOf("1970-01-01")
    case 1114 | 1184 => java.sql.Timestamp.valueOf("1970-01-01 00:00:00")
    case 17 => Array.empty[Byte]
    case _ => ""
  }

  private def writeCString(b: DataOutputStream, s: String): Unit = {
    b.write(s.getBytes(UTF_8)); b.writeByte(0)
  }

  private def exMessage(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    if (m.length > 2000) m.take(2000) + "…" else m
  }
}
