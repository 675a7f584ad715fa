package graft.server

import graft.model.FieldValue
import graft.nbql._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.io.{DataInputStream, BufferedOutputStream, EOFException}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.Executors

/** The reference's framed TCP wire protocol (S10b), byte-compatible with
  * `server/tcp_connection_handler.go` + `api/nbql/nbql.go` — see [[Wire]]
  * for the frame/payload layouts. This is the reference's high-volume
  * ingest path: PUSH (0x01) and PUSHS (0x02) frames carry binary-encoded
  * points that BYPASS the text parser entirely (the "binary fast path",
  * `tcp_connection_handler.go:120-151`), QUERY (0x10) carries an NBQL
  * string whose results stream back one point per QueryResultPart frame
  * followed by a QueryEnd trailer — the framed analog of the HTTP
  * server's NDJSON streaming, fed by the same `toLocalIterator` seam (no
  * driver materialization).
  *
  * When an [[Authenticator]] is configured the connection must complete
  * the reference's handshake first (`server/tcppacket.go`): an
  * authentication packet with uint16-prefixed username/password, answered
  * with ok/error; reader role gates QUERY/SHOW, writer gates mutations —
  * same policy as HTTP (`auth/authenticator.go:142-155`). */
final class GraftTcpServer(executor: NbqlExecutor, port: Int = 0,
    authenticator: Option[Authenticator] = None) {

  private val server = new ServerSocket(port, 64,
    java.net.InetAddress.getByName("127.0.0.1"))
  private val pool = Executors.newCachedThreadPool()
  @volatile private var running = false

  /** Liveness fallback for live subscriptions (S8 over TCP): the push
    * loop normally wakes on [[commitSignal]] the instant a commit lands,
    * so this bounds only how long a MISSED signal (e.g. an engine shared
    * with another process) can delay delivery. Raising it costs nothing
    * on the happy path. */
  @volatile var subscriptionPollMs: Long = 100L

  /** Per-commit push signal: a `PostManifestWrite` listener (registered
    * at [[start]]) notifies this monitor the moment any commit lands, so
    * subscription delivery latency tracks the reference's per-Put
    * publish (`engine2/pubsub.go:105-126`) instead of a poll interval.
    * The waiter re-checks the log tip UNDER the monitor before waiting,
    * which closes the missed-notify race (commit between drain and
    * wait). */
  private val commitSignal = new Object

  // held so stop() can unregister — restart cycles on a shared engine
  // must not accumulate dead listeners in its hook registry
  private val commitListener = graft.hooks.HookListener({ _ =>
    commitSignal.synchronized { commitSignal.notifyAll() }; Right(())
  })

  def boundPort: Int = server.getLocalPort

  def start(): Unit = {
    running = true
    executor.engine.hooks.register(graft.hooks.EventType.PostManifestWrite,
      commitListener)
    pool.submit(new Runnable {
      def run(): Unit = while (running) {
        try {
          val sock = server.accept()
          sock.setTcpNoDelay(true) // see NbqlClient.connect — small frames
          pool.submit(new Runnable { def run(): Unit = handle(sock) })
          ()
        } catch { case _: Exception if !running => () case _: Exception => () }
      }
    })
    ()
  }

  def stop(): Unit = {
    running = false
    executor.engine.hooks.unregister(
      graft.hooks.EventType.PostManifestWrite, commitListener)
    try server.close() catch { case _: Exception => () }
    pool.shutdownNow(); ()
  }

  private def requiredRole(st: Statement): String = st match {
    case _: QueryStatement | _: ShowStatement => Auth.RoleReader
    case _ => Auth.RoleWriter
  }

  private def handle(sock: Socket): Unit = {
    val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      val user = authenticator match {
        case None => None
        case Some(auth) =>
          // handshake: [version:1][op:1][len:2][user,pass]
          val ver = in.readByte(); val op = in.readByte()
          val plen = in.readUnsignedShort()
          val payload = new Array[Byte](plen); in.readFully(payload)
          val ok =
            if (ver != 1 || op != Wire.AuthRequestOp) None
            else {
              val pi = Wire.dis(payload)
              auth.authenticate(Wire.readString(pi), Wire.readString(pi))
            }
          ok match {
            case None =>
              out.write(Wire.encodeAuthResponse(ok = false,
                "invalid username or password"))
              out.flush(); return
            case some =>
              out.write(Wire.encodeAuthResponse(ok = true, "authenticated"))
              out.flush(); some
          }
      }
      while (true) {
        val frame = Wire.readFrame(in)
        dispatch(frame, out, user)
      }
    } catch {
      case _: EOFException => () // client closed
      case _: java.io.IOException => ()
      case e: Exception =>
        try Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(500,
          s"internal: ${e.getMessage}"))
        catch { case _: Exception => () }
    } finally {
      try sock.close() catch { case _: Exception => () }
    }
  }

  private def dispatch(frame: Wire.Frame, out: java.io.OutputStream,
      user: Option[Auth.UserRecord]): Unit = {
    val stmtE: Either[String, Statement] = frame.cmd match {
      case Wire.CmdPush =>
        val i = Wire.dis(frame.payload)
        val metric = Wire.readString(i); val tags = Wire.readTags(i)
        val ts = i.readLong(); val fields = Wire.readFields(i)
        Right(PushStatement(metric, tags, fields, Some(ts)))
      case Wire.CmdPushs =>
        val i = Wire.dis(frame.payload)
        val n = i.readInt()
        Right(PushsStatement((0 until n).map { _ =>
          val metric = Wire.readString(i); val tags = Wire.readTags(i)
          val ts = i.readLong(); val fields = Wire.readFields(i)
          PushStatement(metric, tags, fields, Some(ts))
        }))
      case Wire.CmdQuery =>
        NbqlParser.parse(Wire.readString(Wire.dis(frame.payload)))
      case Wire.CmdSubscribe =>
        // long-running: takes over the connection (like the reference's
        // gRPC Subscribe stream) — never returns to the dispatch loop
        // until the client disconnects
        val denied = authenticator.zip(user).exists { case (a, u) =>
          !a.authorize(u, Auth.RoleReader) }
        if (denied)
          Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(403,
            s"user '${user.map(_.username).getOrElse("")}' is not authorized"))
        else {
          val i = Wire.dis(frame.payload)
          streamSubscription(out, Wire.readString(i), Wire.readTags(i))
        }
        return
      case other => Left(s"unknown command type: 0x${"%02x".format(other)}")
    }

    stmtE match {
      case Left(err) =>
        Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(400, err))
      case Right(st) =>
        val denied = authenticator.zip(user).exists { case (a, u) =>
          !a.authorize(u, requiredRole(st)) }
        if (denied) {
          Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(403,
            s"user '${user.map(_.username).getOrElse("")}' is not authorized"))
          return
        }
        executor.run(st) match {
          case Left(err) =>
            Wire.writeFrame(out, Wire.CmdError, Wire.encodeError(500, err))
          case Right(a: executor.Ack) =>
            val rows = a.message match {
              case s if s.startsWith("OK ") =>
                scala.util.Try(s.stripPrefix("OK ").trim.toLong).getOrElse(0L)
              case _ => 0L
            }
            Wire.writeFrame(out, Wire.CmdManipulate,
              Wire.encodeManipulateResponse(rows, Nil))
          case Right(r: executor.Rows) => streamRows(out, r)
        }
    }
  }

  /** Live subscription over the framed transport (the TCP carrier for
    * S8/ST6 — the reference serves this on gRPC, `grpc_server.go:455-491`,
    * with PUT and DELETE update types): ack with the start version, then
    * poll the commit log and push every LATER commit's matching changes as
    * QueryResultPart frames in commit order — pure-append commits as PUT
    * rows (seq order), tombstones as DELETE frames ([[Wire.FlagIsDelete]],
    * fields carry delete_kind/start_ns/end_ns). Runs until the client
    * disconnects (a push fails) or the server stops. */
  private def streamSubscription(out: java.io.OutputStream,
      metricPat: String, tagPats: Map[String, String]): Unit = {
    import graft.streaming.PubSub
    val engine = executor.engine
    val filter = PubSub.SubscriptionFilter(metricPat, tagPats)
    var since = engine.sync()
    Wire.writeFrame(out, Wire.CmdManipulate,
      Wire.encodeManipulateResponse(since, Nil))
    try {
      while (running) {
        val tip = engine.sync()
        var v = since + 1
        while (v <= tip) {
          // driver-originated append commits push WITHOUT a Spark job:
          // the engine retains their rows ([[TsdbEngine.commitChangesLocal]]
          // — the reference's in-memory per-Put publish,
          // `engine2/pubsub.go:105-126`); evicted/bulk/tombstone commits
          // take the parquet read below
          val tombs = engine.commitChangesLocal(v) match {
            case Some(pts) =>
              pts.sortBy(_._2).foreach { case (p, seq) =>
                if (PubSub.matchesDriver(filter, p.metric, p.tags))
                  Wire.writeFrame(out, Wire.CmdQueryResultPart,
                    Wire.encodeQueryResultPart(Wire.PointItem(seq, p.metric,
                      p.tags, p.timestamp, p.fields, 0L, Nil,
                      isAggregated = false)))
              }
              Nil // an append commit never carries tombstones
            case None =>
              val (puts, ts) = try engine.commitChanges(v) catch {
                case _: IllegalStateException =>
                  // lagging past the truncation horizon: commit v's
                  // manifest was truncated under a checkpoint, so its
                  // per-commit changes can no longer be replayed.
                  // Pub/sub is best-effort live-tail — the reference's
                  // non-blocking publish likewise drops what a slow
                  // subscriber missed (`engine2/pubsub.go:105-126`) —
                  // so skip to the oldest commit still on disk and keep
                  // the subscription alive instead of killing the
                  // connection.
                  v = engine.oldestAvailableCommitVersion
                    .filter(_ > v).getOrElse(tip + 1) - 1
                  (None, Nil)
              }
              puts.foreach { df =>
                val matched = PubSub.subscribe(df, filter).orderBy("seq")
                // toLocalIterator, not collect: a bulk backfill commit
                // streams through the push loop one partition at a time
                // instead of materializing the whole matched set on the
                // driver (the same seam the query result path uses)
                val it = matched.toLocalIterator()
                while (it.hasNext) {
                  val row = it.next()
                  Wire.writeFrame(out, Wire.CmdQueryResultPart,
                    Wire.encodeQueryResultPart(toPointItem(row, matched.schema, isAgg = false)))
                }
              }
              ts
          }
          tombs.filter(t => PubSub.matchesDriver(filter, t.metric, t.tags))
            .foreach { t =>
              val item = Wire.PointItem(t.seq, t.metric, t.tags, t.fromNs,
                Map(
                  "delete_kind" -> FieldValue.ofString(t.kind),
                  "start_ns" -> FieldValue.ofLong(t.fromNs),
                  "end_ns" -> FieldValue.ofLong(t.toNs)),
                0L, Nil, isAggregated = false)
              Wire.writeFrame(out, Wire.CmdQueryResultPart,
                Wire.encodeQueryResultPart(item, extraFlags = Wire.FlagIsDelete))
            }
          since = v
          v += 1
        }
        // wake instantly on the next commit; poll interval is only the
        // missed-signal liveness bound (see commitSignal)
        commitSignal.synchronized {
          if (engine.sync() == since) commitSignal.wait(subscriptionPollMs)
        }
      }
    } catch {
      case _: java.io.IOException => ()      // client went away
      case _: InterruptedException => ()     // server stopping
    }
  }

  /** One QueryResultPart frame per row off [[NbqlExecutor.Rows.rowIterator]]
    * — the driver-resident array when the serving tiers answered (no
    * plan, no job), `toLocalIterator` over the full plan otherwise
    * (partitions stream as they finish, driver memory stays O(1 row));
    * then QueryEnd with the row count
    * (`tcp_connection_handler.go:216-280`). */
  private def streamRows(out: java.io.OutputStream, r: NbqlExecutor#Rows): Unit = {
    val schema = r.schema
    val names = schema.fieldNames.toSet
    val isAgg = names.contains("window_start") ||
      (!names.contains("fields") && names.contains("timestamp"))
    var delivered = 0L
    var last: Option[Row] = None
    val it = r.rowIterator()
    while (it.hasNext) {
      val row = it.next()
      Wire.writeFrame(out, Wire.CmdQueryResultPart,
        Wire.encodeQueryResultPart(toPointItem(row, schema, isAgg)))
      delivered += 1
      last = Some(row)
    }
    // the reference emits the cursor with rows; we close with it in the
    // trailer frame's message slot being empty — cursor rides NextCursor
    // on the LAST result part per `nbql.go:137-143`. Simpler and
    // compatible: a final empty result-part carrying only the cursor.
    r.nextCursor(delivered, last).foreach { c =>
      Wire.writeFrame(out, Wire.CmdQueryResultPart, Wire.withDOS { o =>
        o.writeByte(Wire.StatusDataRow); o.writeByte(0)
        Wire.writeString(o, c); o.writeInt(0)
      })
    }
    Wire.writeFrame(out, Wire.CmdQueryEnd, Wire.encodeQueryEnd(delivered))
  }

  /** Fields are read by ORDINAL from `schema`, as the HTTP encoder
    * ([[RowJson.toJValue]]) does: rows served by the driver-resident
    * tiers or the result cache are schema-less, so by-name reads fail. */
  private def toPointItem(row: Row, schema: StructType, isAgg: Boolean): Wire.PointItem = {
    val names = schema.fieldNames
    def at(n: String): Int = names.indexOf(n)
    def has(n: String) = at(n) >= 0
    def get[T](n: String): T = row.getAs[T](at(n))
    def tagsOf: Map[String, String] =
      if (has("tags")) Option(get[scala.collection.Map[String, String]]("tags"))
        .map(_.toMap).getOrElse(Map.empty)
      else Map.empty
    if (has("fields")) {
      // raw point row: metric, tags, timestamp, fields, seq
      val vt = schema("fields").dataType.asInstanceOf[MapType]
        .valueType.asInstanceOf[StructType]
      val Seq(iD, iL, iS, iB) = Seq("d", "l", "s", "b").map(vt.fieldIndex)
      val fv = Option(get[scala.collection.Map[String, Row]]("fields"))
        .map(_.toMap).getOrElse(Map.empty)
        .map { case (k, s) =>
          k -> (if (s == null) FieldValue.NilValue
          else FieldValue(Option(s.getAs[java.lang.Double](iD)).map(_.doubleValue()),
            Option(s.getAs[java.lang.Long](iL)).map(_.longValue()),
            Option(s.getAs[String](iS)),
            Option(s.getAs[java.lang.Boolean](iB)).map(_.booleanValue())))
        }
      Wire.PointItem(if (has("seq")) get[Long]("seq") else 0L,
        if (has("metric")) get[String]("metric") else "",
        tagsOf, get[Long]("timestamp"), fv, 0L, Nil, isAggregated = false)
    } else if (isAgg) {
      val ws = if (has("window_start")) get[Long]("window_start")
        else get[Long]("timestamp")
      val skip = Set("metric", "tags", "series_key", "window_start", "window_end",
        "timestamp")
      val aggs = schema.fields.iterator.zipWithIndex
        .filterNot { case (f, _) => skip(f.name) }.flatMap { case (f, i) =>
          val v: Option[Double] = f.dataType match {
            case DoubleType | FloatType | LongType | IntegerType =>
              Option(row.getAs[Number](i)).map(_.doubleValue())
            case _ => None
          }
          v.map(f.name -> _)
        }.toSeq
      Wire.PointItem(0L, if (has("metric")) get[String]("metric") else "",
        tagsOf, ws, Map.empty, ws, aggs, isAggregated = true)
    } else {
      // SHOW-style rows: every column rides as a field value
      val fv = schema.fields.iterator.zipWithIndex.map { case (f, i) =>
        val v = if (row.isNullAt(i)) FieldValue.NilValue
        else f.dataType match {
          case StringType => FieldValue.ofString(row.getString(i))
          case LongType | IntegerType =>
            FieldValue.ofLong(row.getAs[Number](i).longValue())
          case DoubleType | FloatType =>
            FieldValue.ofDouble(row.getAs[Number](i).doubleValue())
          case BooleanType => FieldValue.ofBool(row.getBoolean(i))
          case _ => FieldValue.ofString(String.valueOf(row.get(i)))
        }
        f.name -> v
      }.toMap
      Wire.PointItem(0L, "", Map.empty, 0L, fv, 0L, Nil, isAggregated = false)
    }
  }
}
