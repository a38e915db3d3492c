package graft.metrics

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  test("timed records success status and duration with reference names") {
    val m = EtlMetrics.quiet()
    val out = m.timed("extract_brewery_data") { 7 }
    assert(out == 7)
    assert(m.counter("brewery_etl_operations_total",
      Map("operation" -> "extract_brewery_data", "status" -> "success")) == 1.0)
    assert(m.durationCount("brewery_etl_processing_duration_seconds",
      Map("operation" -> "extract_brewery_data")) == 1)
  }

  test("timed records failure status and rethrows") {
    val m = EtlMetrics.quiet()
    intercept[RuntimeException](m.timed("op")(throw new RuntimeException("x")))
    assert(m.counter("brewery_etl_operations_total",
      Map("operation" -> "op", "status" -> "failure")) == 1.0)
    assert(m.counter("brewery_etl_operations_total",
      Map("operation" -> "op", "status" -> "success")) == 0.0)
  }

  test("counters accumulate, gauges overwrite, labels partition series") {
    val m = EtlMetrics.quiet()
    m.incCounter("c", Map("op" -> "a")); m.incCounter("c", Map("op" -> "a"), by = 3)
    m.incCounter("c", Map("op" -> "b"))
    assert(m.counter("c", Map("op" -> "a")) == 4.0)
    assert(m.counter("c", Map("op" -> "b")) == 1.0)
    m.setGauge("g", 5); m.setGauge("g", 9)
    assert(m.gauge("g") == 9.0)
    assert(m.recordsProcessed("x", 100L) == (()))
    assert(m.counter("brewery_etl_records_processed_total",
      Map("operation" -> "x")) == 100.0)
  }

  test("text exposition is deterministic and correctly escaped") {
    val m = EtlMetrics.quiet()
    m.incCounter("app_ops_total", Map("op" -> "extract", "status" -> "success"))
    m.incCounter("app_ops_total", Map("op" -> "load", "status" -> "failure"), 2)
    m.setGauge("app_bytes", 123.0, Map("op" -> "a\"b\n"))
    m.observeDuration("app_dur_seconds", 0.5, Map("op" -> "x"))
    m.observeDuration("app_dur_seconds", 1.5, Map("op" -> "x"))
    val text = m.textExposition()
    assert(text ==
      """# TYPE app_ops_total counter
        |app_ops_total{op="extract",status="success"} 1.0
        |app_ops_total{op="load",status="failure"} 2.0
        |# TYPE app_bytes gauge
        |app_bytes{op="a\"b\n"} 123.0
        |# TYPE app_dur_seconds summary
        |app_dur_seconds_count{op="x"} 2
        |app_dur_seconds_sum{op="x"} 2.0
        |""".stripMargin)
  }

  test("push PUTs the exposition to /metrics/job/<job> on a live server") {
    val received = new java.util.concurrent.atomic.AtomicReference[(String, String, String)]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      received.set((exchange.getRequestMethod,
        exchange.getRequestURI.getPath, body))
      exchange.sendResponseHeaders(200, -1)
      exchange.close()
    })
    server.start()
    try {
      val m = EtlMetrics.quiet()
      m.recordsProcessed("extract", 42L)
      val host = s"127.0.0.1:${server.getAddress.getPort}"
      assert(m.pushTo(host, "brewery etl"))
      val (method, path, body) = received.get()
      assert(method == "PUT") // replace-the-grouping semantics, not merge
      // '%20', not '+': form-encoding's '+' decodes on the gateway as a
      // literal plus and silently re-targets the job grouping. The
      // HttpServer hands back the DECODED path, so a correct escape
      // round-trips to the original space.
      assert(path == "/metrics/job/brewery etl")
      assert(body == m.textExposition() && body.contains(
        """brewery_etl_records_processed_total{operation="extract"} 42.0"""))
      // slash-bearing job names use the pushgateway's @base64 segment
      // convention — '/' can't be percent-escaped in a path position
      // (gateways split the raw path first)
      assert(m.pushTo(host, "team/etl"))
      val expected = "job@base64/" + java.util.Base64.getUrlEncoder
        .withoutPadding.encodeToString(
          "team/etl".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(received.get()._2 == s"/metrics/$expected")
    } finally server.stop(0)
  }

  test("push failure returns false, never throws (observability contract)") {
    val m = EtlMetrics.quiet()
    m.incCounter("c")
    // nothing listens on this port
    assert(!m.pushTo("127.0.0.1:1", "job"))
    // gateway-side error (non-2xx) also reports false
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      exchange.getRequestBody.readAllBytes()
      exchange.sendResponseHeaders(500, -1); exchange.close()
    })
    server.start()
    try assert(!m.pushTo(s"127.0.0.1:${server.getAddress.getPort}", "j"))
    finally server.stop(0)
  }

  test("SparkIoMetrics waits out a slow listener instead of recording partial input") {
    val spark = graft.SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_io_").toString + "/t"
    // 8 small files: a multi-task scan
    spark.range(0, 40000, 1, 8).selectExpr("id", "cast(id * 7 as string) as s")
      .write.parquet(dir)
    def measured(): (Double, Double) = {
      val m = EtlMetrics.quiet()
      SparkIoMetrics.measure(spark, m, "scan")(spark.read.parquet(dir).collect())
      val op = Map("operation" -> "scan_input")
      (m.counter("brewery_etl_data_processed_bytes", op),
        m.counter("brewery_etl_records_processed_total", op))
    }
    val alone = measured()
    assert(alone._1 > 0 && alone._2 == 40000.0)
    // registered first, so every task-end waits 100 ms behind it on the
    // shared queue before the measuring listener sees it
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    try assert(measured() == alone)
    finally spark.sparkContext.removeSparkListener(slow)
  }
}
