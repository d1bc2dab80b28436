package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream,
  OutputStream}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.ddl.Ddl

/** NATS JetStream input transport (docs/connectors/sources/nats.md;
  * reference `crates/adapters/src/transport/nats/input.rs`).
  *
  * The reference consumes a JetStream stream through an ORDERED PULL
  * consumer — an ephemeral consumer the client recreates from the last
  * processed position whenever it detects a gap — and tracks stream
  * sequences externally for exactly-once resume. Our batch-round model
  * maps onto exactly that contract: every [[readRound]] creates a fresh
  * ephemeral pull consumer starting at `last ingested sequence + 1`
  * (first round: the connector's configured `deliver_policy`), drains
  * everything currently available with `no_wait` pulls, advances the
  * per-connector sequence cursor, and decodes the payloads through the
  * normal format layer. A message racing the round is left for the next
  * round — the same (cursor, latest] discipline the Delta/Iceberg
  * follow connectors use.
  *
  * Both layers of the protocol are spoken directly over a socket — core
  * NATS is a text protocol (INFO/CONNECT/SUB/PUB/MSG/PING) and the
  * JetStream API is JSON request/reply on `$JS.API.>` subjects — so no
  * client jar is required (none ships on this classpath).
  *
  * Scale note: ingestion is driver-side by design — a JetStream ordered
  * consumer is single-subscriber (strict global ordering), so the
  * reference's adapter is also one reader feeding the pipeline;
  * parallelism belongs to the DECODE and the downstream plan, which run
  * distributed on the payload batch. Throughput-bound deployments shard
  * by stream/subject across connectors, exactly as with the reference.
  */
object Nats {

  // ---------------------------------------------------------------- core

  sealed trait Frame
  final case class MsgFrame(subject: String, sid: String,
      replyTo: Option[String], payload: Array[Byte],
      headers: Option[String] = None) extends Frame
  case object PingFrame extends Frame
  case object PongFrame extends Frame
  case object OkFrame extends Frame
  final case class ErrFrame(msg: String) extends Frame
  final case class InfoFrame(json: String) extends Frame

  private val sids = new AtomicLong(0)
  private val mapper = new ObjectMapper()

  /** Minimal synchronous core-NATS client. Unsolicited PINGs are
    * answered inside the read loop; everything else is request/reply
    * driven by the caller.
    */
  final class Connection(serverUrl: String, user: Option[String] = None,
      password: Option[String] = None, token: Option[String] = None,
      connectTimeoutMs: Int = 10000) {
    private val uri = java.net.URI.create(
      if (serverUrl.contains("://")) serverUrl else s"nats://$serverUrl")
    private val socket = new Socket()
    socket.connect(new InetSocketAddress(uri.getHost,
      if (uri.getPort > 0) uri.getPort else 4222), connectTimeoutMs)
    socket.setTcpNoDelay(true)
    private val in: InputStream =
      new BufferedInputStream(socket.getInputStream)
    private val out: OutputStream =
      new BufferedOutputStream(socket.getOutputStream)

    val serverInfo: String = readFrame(connectTimeoutMs) match {
      case Some(InfoFrame(json)) => json
      case other => sys.error(s"nats: expected INFO on connect, got $other")
    }
    locally {
      val auth = (user, password, token) match {
        case (Some(u), Some(p), _) =>
          s""","user":"${esc(u)}","pass":"${esc(p)}""""
        case (_, _, Some(t)) => s""","auth_token":"${esc(t)}""""
        case _ => ""
      }
      write(s"""CONNECT {"verbose":false,"pedantic":false,"tls_required":false,"name":"graft","lang":"scala","version":"0"$auth}\r\n""")
      ping()
    }

    /** PING/PONG round trip: returns once the server has processed
      * everything this connection sent before it (a publish is
      * fire-and-forget; a reader on another connection may rely on it
      * only after this).
      */
    def ping(): Unit = {
      write("PING\r\n")
      flush()
      awaitPong(connectTimeoutMs)
    }

    private def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")

    private def write(s: String): Unit = out.write(s.getBytes(UTF_8))
    private def flush(): Unit = out.flush()

    def subscribe(subject: String): String = {
      val sid = s"s${sids.incrementAndGet()}"
      write(s"SUB $subject $sid\r\n"); flush()
      sid
    }

    def unsubscribe(sid: String): Unit = {
      write(s"UNSUB $sid\r\n"); flush()
    }

    def publish(subject: String, payload: Array[Byte],
        replyTo: Option[String] = None): Unit = {
      val rt = replyTo.map(r => s" $r").getOrElse("")
      write(s"PUB $subject$rt ${payload.length}\r\n")
      out.write(payload)
      write("\r\n")
      flush()
    }

    /** Read one protocol frame, answering server PINGs transparently.
      * Returns None on read timeout.
      */
    def readFrame(timeoutMs: Int): Option[Frame] = {
      socket.setSoTimeout(math.max(1, timeoutMs))
      val line = try readLine() catch {
        case _: SocketTimeoutException => return None
      }
      if (line == null) sys.error("nats: connection closed")
      val parts = line.split(" ").toSeq
      parts.head.toUpperCase match {
        case "PING" =>
          write("PONG\r\n"); flush()
          Some(PingFrame)
        case "PONG" => Some(PongFrame)
        case "+OK" => Some(OkFrame)
        case "-ERR" => Some(ErrFrame(line.drop(5)))
        case "INFO" => Some(InfoFrame(line.drop(5)))
        case "MSG" =>
          // MSG <subject> <sid> [reply-to] <#bytes>
          val (subject, sid) = (parts(1), parts(2))
          val (reply, n) =
            if (parts.length == 5) (Some(parts(3)), parts(4).toInt)
            else (None, parts(3).toInt)
          Some(MsgFrame(subject, sid, reply, readPayload(n)))
        case "HMSG" =>
          // HMSG <subject> <sid> [reply-to] <#hdr bytes> <#total bytes>
          val (subject, sid) = (parts(1), parts(2))
          val (reply, hdrLen, total) =
            if (parts.length == 6) (Some(parts(3)), parts(4).toInt,
              parts(5).toInt)
            else (None, parts(3).toInt, parts(4).toInt)
          val all = readPayload(total)
          val headers = new String(all.take(hdrLen), UTF_8)
          Some(MsgFrame(subject, sid, reply, all.drop(hdrLen),
            Some(headers)))
        case other => sys.error(s"nats: unknown frame: $line")
      }
    }

    private def readPayload(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        require(r >= 0, "nats: connection closed mid-payload")
        off += r
      }
      require(in.read() == '\r' && in.read() == '\n',
        "nats: malformed payload terminator")
      buf
    }

    private def readLine(): String = {
      val sb = new java.lang.StringBuilder()
      var c = in.read()
      if (c < 0) return null
      while (c != '\r') {
        require(c >= 0, "nats: connection closed mid-line")
        sb.append(c.toChar)
        c = in.read()
      }
      require(in.read() == '\n', "nats: malformed line terminator")
      sb.toString
    }

    private def awaitPong(timeoutMs: Int): Unit = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var got = false
      while (!got) {
        require(System.nanoTime() < deadline, "nats: no PONG from server")
        readFrame(timeoutMs) match {
          case Some(PongFrame) => got = true
          case Some(ErrFrame(e)) => sys.error(s"nats: server error: $e")
          case _ => ()
        }
      }
    }

    /** JSON request/reply over a fresh inbox subject. */
    def request(subject: String, payload: Array[Byte],
        timeoutMs: Int): MsgFrame = {
      val inbox = s"_INBOX.graft.${sids.incrementAndGet()}"
      val sid = subscribe(inbox)
      try {
        publish(subject, payload, Some(inbox))
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        while (true) {
          require(System.nanoTime() < deadline,
            s"nats: request to $subject timed out after ${timeoutMs}ms")
          readFrame(timeoutMs) match {
            case Some(m: MsgFrame) if m.sid == sid => return m
            case Some(ErrFrame(e)) => sys.error(s"nats: $e")
            case _ => ()
          }
        }
        throw new IllegalStateException("unreachable")
      } finally unsubscribe(sid)
    }

    def close(): Unit = socket.close()
  }

  // ----------------------------------------------------------- jetstream

  /** Status-header pull terminators: 404 No Messages (no_wait), 408
    * Request Timeout, 409 exceeded limits.
    */
  private def isPullStatus(m: MsgFrame): Boolean =
    m.headers.exists(h => Seq("404", "408", "409")
      .exists(code => h.startsWith(s"NATS/1.0 $code")))

  /** Stream sequence from the `$JS.ACK.<stream>.<consumer>.<delivered>.
    * <stream-seq>.<consumer-seq>.<ts>.<pending>` reply subject.
    */
  private[graft] def streamSeqOf(replyTo: String): Long = {
    val t = replyTo.split("\\.")
    require(t.length >= 9 && t(0) == "$JS" && t(1) == "ACK",
      s"nats: unexpected ack subject: $replyTo")
    // v1 ack: $JS.ACK.<stream>.<consumer>.<delivered>.<sseq>.<cseq>.
    // <ts>.<pending> (9 tokens, sseq at 5); v2 prefixes <domain> and
    // <account-hash> (12 tokens, sseq at 7)
    if (t.length >= 12) t(7).toLong else t(5).toLong
  }

  /** Create an ephemeral ordered pull consumer and drain everything
    * currently available. Returns (payloads in stream order, last
    * delivered stream sequence or None when nothing was available).
    */
  def pullAvailable(conn: Connection, stream: String,
      deliverPolicyJson: String, filterSubjects: Seq[String],
      maxBatch: Int = 256, requestTimeoutMs: Int = 10000)
      : (Vector[Array[Byte]], Option[Long]) = {
    val name = s"graft-${java.util.UUID.randomUUID().toString.take(13)}"
    val filters = if (filterSubjects.isEmpty) ""
      else s""","filter_subjects":[${filterSubjects
        .map(s => s""""$s"""").mkString(",")}]"""
    val createBody =
      s"""{"stream_name":"$stream","config":{"name":"$name","ack_policy":"none",$deliverPolicyJson$filters}}"""
    val created = conn.request(s"$$JS.API.CONSUMER.CREATE.$stream",
      createBody.getBytes(UTF_8), requestTimeoutMs)
    val createdJson = mapper.readTree(created.payload)
    require(createdJson.get("error") == null,
      s"nats: consumer create failed: ${new String(created.payload, UTF_8)}")

    val inbox = s"_INBOX.graft.pull.${sids.incrementAndGet()}"
    val sid = conn.subscribe(inbox)
    val out = Vector.newBuilder[Array[Byte]]
    // consumer info reports the starting position (`delivered.stream_seq`
    // = last sequence BEFORE the consumer's first message) — without it,
    // an idle round under deliver_policy "new"/"last" could not pin its
    // cursor and the next recreation would skip messages that arrived
    // in between
    var lastSeq = Option(createdJson.get("delivered"))
      .flatMap(d => Option(d.get("stream_seq"))).map(_.asLong())
    try {
      var exhausted = false
      while (!exhausted) {
        conn.publish(s"$$JS.API.CONSUMER.MSG.NEXT.$stream.$name",
          s"""{"batch":$maxBatch,"no_wait":true}""".getBytes(UTF_8),
          Some(inbox))
        var gotInBatch = 0
        var statusSeen = false
        val deadline = System.nanoTime() + requestTimeoutMs * 1000000L
        while (!statusSeen && gotInBatch < maxBatch) {
          require(System.nanoTime() < deadline,
            s"nats: pull from $stream timed out")
          conn.readFrame(requestTimeoutMs) match {
            case Some(m: MsgFrame) if m.sid == sid =>
              if (isPullStatus(m)) { statusSeen = true; exhausted = true }
              else {
                out += m.payload
                m.replyTo.foreach(r => lastSeq = Some(streamSeqOf(r)))
                gotInBatch += 1
              }
            case Some(ErrFrame(e)) => sys.error(s"nats: $e")
            case _ => ()
          }
        }
        // a full batch with no status falls through with `exhausted`
        // still false — the outer loop issues another pull
      }
    } finally conn.unsubscribe(sid)
    (out.result(), lastSeq)
  }

  // ------------------------------------------------- connector dispatch

  /** Per-connector resume cursor: last ingested stream sequence — the
    * external sequence tracking the reference journals for exactly-once
    * resume. Keyed by server/stream/connector-name so distinct
    * connectors over one stream advance independently.
    */
  private val cursors = TrieMap[String, Long]()

  private[graft] def cursorKey(serverUrl: String, stream: String,
      name: String): String = s"$serverUrl|$stream|$name"

  private[graft] def resetCursor(key: String): Unit = cursors.remove(key)
  private[graft] def cursorOf(key: String): Option[Long] = cursors.get(key)

  /** Resume-state surface (Pipeline.exportConnectorCursors): snapshot /
    * restore the stream-sequence cursors for durable restarts — the
    * external sequence tracking the reference journals.
    */
  def cursorsSnapshot: Map[String, Long] = cursors.toMap
  def importCursors(m: Map[String, Long]): Unit =
    m.foreach { case (k, v) => cursors(k) = v }

  /** One ingestion round: ephemeral consumer from the cursor (or the
    * configured deliver_policy on the first round), drain available
    * messages, decode to a Z-set delta.
    */
  def readRound(spark: SparkSession, table: Ddl.TableDef,
      conf: Connectors.ConnectorConf): DataFrame = {
    val cc = conf.config.get("connection_config")
      .map(mapper.readTree).getOrElse(mapper.createObjectNode())
    val serverUrl = Option(cc.get("server_url")).map(_.asText())
      .orElse(conf.config.get("server_url"))
      .getOrElse(sys.error("nats_input: connection_config.server_url " +
        "is required"))
    val auth = Option(cc.get("auth"))
    val up = auth.flatMap(a => Option(a.get("user_and_password")))
    up.foreach(n => require(n.get("user") != null && n.get("password") != null,
      "nats_input: auth.user_and_password needs both user and password"))
    val user = up.map(_.get("user").asText())
    val pass = up.map(_.get("password").asText())
    val token = auth.flatMap(a => Option(a.get("token")).map(_.asText()))
    val stream = conf.config.getOrElse("stream_name",
      sys.error("nats_input: stream_name is required"))
    val consumer = conf.config.get("consumer_config")
      .map(mapper.readTree).getOrElse(mapper.createObjectNode())
    val filterSubjects = Option(consumer.get("filter_subjects"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    val maxBatch = Option(consumer.get("max_batch"))
      .map(_.asInt()).filter(_ > 0).getOrElse(256)
    val timeoutMs = Option(cc.get("request_timeout_secs"))
      .map(_.asInt()).getOrElse(10) * 1000
    val key = cursorKey(serverUrl, stream,
      conf.name.getOrElse(table.name))

    val deliverJson = cursors.get(key) match {
      case Some(seq) =>
        s""""deliver_policy":"by_start_sequence","opt_start_seq":${seq + 1}"""
      case None =>
        // first round: honor the configured deliver_policy
        Option(consumer.get("deliver_policy")) match {
          case None => s""""deliver_policy":"all""""
          case Some(dp) if dp.isTextual =>
            s""""deliver_policy":"${toSnake(dp.asText())}""""
          case Some(dp) if dp.has("ByStartSequence") =>
            val s = dp.get("ByStartSequence").get("start_sequence").asLong()
            s""""deliver_policy":"by_start_sequence","opt_start_seq":$s"""
          case Some(dp) if dp.has("ByStartTime") =>
            val t = dp.get("ByStartTime").get("start_time").asText()
            s""""deliver_policy":"by_start_time","opt_start_time":"$t""""
          case Some(dp) => sys.error(s"nats_input: unsupported " +
            s"deliver_policy: $dp")
        }
    }

    val connection = new Connection(serverUrl, user, pass, token)
    val (payloads, lastSeq) = try {
      pullAvailable(connection, stream, deliverJson, filterSubjects,
        maxBatch, timeoutMs)
    } finally connection.close()
    lastSeq.foreach(cursors(key) = _)

    val records = spark.createDataset(payloads)(Encoders.BINARY)
      .toDF("value")
    Connectors.decodeKafkaBatch(records, FileSource.schemaOf(table),
      conf.formatConfig.getOrElse("update_format", "insert_delete"),
      conf.format, conf.formatConfig.get("avro_schema"),
      conf.formatConfig.get("registry_urls"),
      Connectors.defaultsOf(table, conf.config))
  }

  /** `"All"`/`"New"`/`"LastPerSubject"` → JS API snake_case. */
  private def toSnake(s: String): String =
    s.replaceAll("([a-z])([A-Z])", "$1_$2").toLowerCase
}
