package graft

import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.functions._

import graft.ddl.Ddl
import graft.runtime.Pipeline
import graft.sources.{Connectors, Nats}
import graft.tools.NatsStubServer

class NatsSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def programSql(url: String, stream: String,
      deliver: String = "\"All\""): String = {
    val connectors =
      s"""[{"name": "n0", "transport": {"name": "nats_input", "config": {
         |  "connection_config": {"server_url": "$url"},
         |  "stream_name": "$stream",
         |  "consumer_config": {"deliver_policy": $deliver, "max_batch": 2}
         |}}, "format": {"name": "json",
         |  "config": {"update_format": "insert_delete"}}}]"""
        .stripMargin.replaceAll("\n", " ")
    s"""CREATE TABLE ev (k BIGINT NOT NULL, v BIGINT)
       | WITH ('connectors' = '${connectors.replace("'", "''")}');
       |CREATE MATERIALIZED VIEW totals AS
       | SELECT k, SUM(v) AS s, COUNT(*) AS n FROM ev GROUP BY k;
       |""".stripMargin
  }

  test("rounds resume from the sequence cursor: each ingest round " +
      "pulls exactly the messages since the last") {
    val srv = new NatsStubServer(Map("EVENTS" -> Seq("events.>")))
    try {
      // publish through a real client connection (socket round trip)
      val pub = new Nats.Connection(srv.url)
      pub.publish("events.a", """{"insert": {"k": 1, "v": 10}}""".getBytes(UTF_8))
      pub.publish("events.a", """{"insert": {"k": 1, "v": 5}}""".getBytes(UTF_8))
      pub.publish("events.b", """{"insert": {"k": 2, "v": 7}}""".getBytes(UTF_8))

      val p = Pipeline(spark, programSql(srv.url, "EVENTS"))
      // publishes are fire-and-forget: the round trip orders them before
      // the pull, which runs on the connector's own connection
      pub.ping()
      p.ingestConnectors()
      assert(p.adHoc("SELECT * FROM totals").as[(Long, Long, Long)].collect().toSet ===
        Set((1L, 15L, 2L), (2L, 7L, 1L)))

      // next round: only the NEW messages (incl. a retraction)
      pub.publish("events.a", """{"delete": {"k": 1, "v": 5}}""".getBytes(UTF_8))
      pub.publish("events.b", """{"insert": {"k": 2, "v": 3}}""".getBytes(UTF_8))
      pub.ping()
      p.ingestConnectors()
      assert(p.adHoc("SELECT * FROM totals").as[(Long, Long, Long)].collect().toSet ===
        Set((1L, 10L, 1L), (2L, 10L, 2L)))

      // idle round: a no-op, and the cursor does not move
      pub.ping()
      p.ingestConnectors()
      assert(p.adHoc("SELECT * FROM totals").as[(Long, Long, Long)].collect().toSet ===
        Set((1L, 10L, 1L), (2L, 10L, 2L)))

      // the ordered-pull contract: every round recreated an ephemeral
      // consumer rather than trusting server-side consumer state
      assert(srv.consumerCreates.get() === 3)
      pub.close()
    } finally srv.close()
  }

  test("max_batch pages through a backlog larger than one pull") {
    val srv = new NatsStubServer(Map("S" -> Seq("s.>")))
    try {
      (1 to 5).foreach(i =>
        srv.seed("S", "s.x", s"""{"insert": {"k": $i, "v": 1}}"""))
      val p = Pipeline(spark, programSql(srv.url, "S"))
      p.ingestConnectors()
      assert(p.adHoc("SELECT * FROM totals").count() === 5)
      // batch=2 over 5 messages: 2+2+1(+404) = at least 3 pull requests
      assert(srv.pullRequests.get() >= 3)
    } finally srv.close()
  }

  test("deliver_policy New skips the pre-existing backlog") {
    val srv = new NatsStubServer(Map("S" -> Seq("s.>")))
    try {
      srv.seed("S", "s.x", """{"insert": {"k": 1, "v": 1}}""")
      val p = Pipeline(spark,
        programSql(srv.url, "S", deliver = "\"New\""))
      p.ingestConnectors()
      assert(p.adHoc("SELECT * FROM totals").count() === 0)
      srv.seed("S", "s.x", """{"insert": {"k": 2, "v": 2}}""")
      p.ingestConnectors()
      assert(p.adHoc("SELECT * FROM totals").as[(Long, Long, Long)].collect().toSet ===
        Set((2L, 2L, 1L)))
    } finally srv.close()
  }

  test("ByStartSequence starts mid-stream; user/password auth " +
      "reaches the CONNECT frame") {
    val srv = new NatsStubServer(Map("S" -> Seq("s.>")),
      requireUser = Some(("alice", "s3cret")))
    try {
      (1 to 4).foreach(i =>
        srv.seed("S", "s.x", s"""{"insert": {"k": $i, "v": $i}}"""))
      val connectors =
        s"""[{"name": "n0", "transport": {"name": "nats_input", "config": {
           |  "connection_config": {"server_url": "${srv.url}",
           |    "auth": {"user_and_password":
           |      {"user": "alice", "password": "s3cret"}}},
           |  "stream_name": "S",
           |  "consumer_config": {"deliver_policy":
           |    {"ByStartSequence": {"start_sequence": 3}}}
           |}}, "format": {"name": "json",
           |  "config": {"update_format": "insert_delete"}}}]"""
          .stripMargin.replaceAll("\n", " ")
      val sql =
        s"""CREATE TABLE ev (k BIGINT NOT NULL, v BIGINT)
           | WITH ('connectors' = '${connectors.replace("'", "''")}');
           |CREATE MATERIALIZED VIEW raw AS SELECT k, v FROM ev;
           |""".stripMargin
      val p = Pipeline(spark, sql)
      p.ingestConnectors()
      assert(p.adHoc("SELECT * FROM raw").select("k").as[Long].collect().toSet ===
        Set(3L, 4L))
    } finally srv.close()
  }

  test("missing stream fails with the server's error, not a hang") {
    val srv = new NatsStubServer(Map("S" -> Seq("s.>")))
    try {
      val p = Pipeline(spark, programSql(srv.url, "NOPE"))
      val err = intercept[Exception](p.ingestConnectors())
      assert(TestErrors.messageChain(err)
        .exists(_.contains("consumer create failed")))
    } finally srv.close()
  }

  test("ack-subject stream sequences parse in v1 and v2 forms") {
    assert(Nats.streamSeqOf("$JS.ACK.S.c.1.42.7.1234.0") === 42L)
    assert(Nats.streamSeqOf(
      "$JS.ACK.dom.acct.S.c.1.42.7.1234.0.rnd") === 42L)
    intercept[Exception](Nats.streamSeqOf("$JS.OOPS.S.c.1.2.3.4.5"))
  }
}
