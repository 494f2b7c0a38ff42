package graft.control

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{DoubleAdder, LongAdder}

/** Prometheus-style request metrics (the reference wires promhttp and
  * wraps its query/insert handlers in duration histograms —
  * /root/reference/pkg/api/router.go:37, pkg/api/data.go:20-30).
  * Counters per (route, code), a cumulative-bucket duration histogram
  * per route, and the reference's `bytes_returned` histogram
  * (pkg/api/router.go:24-28, 1 KB–100 MB) of the encoded result bytes
  * per query route, rendered in the text exposition format. Route
  * labels are normalized path classes, so cardinality stays bounded no
  * matter what paths clients probe. */
final class Metrics {
  private val secondsBuckets =
    Array(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0, 30.0)
  private val bytesBuckets = Array(1e3, 1e4, 1e5, 1e6, 1e7, 1e8)

  private final class Histo(buckets: Array[Double]) {
    val bucketCounts = Array.fill(buckets.length)(new LongAdder)
    val sum = new DoubleAdder
    val count = new LongAdder
    def observe(value: Double): Unit = {
      var i = 0
      while (i < buckets.length) {
        if (value <= buckets(i)) bucketCounts(i).increment()
        i += 1
      }
      sum.add(value); count.increment()
    }
  }

  private val requests = new ConcurrentHashMap[(String, Int), LongAdder]()
  private val durations = new ConcurrentHashMap[String, Histo]()
  private val bytesReturned = new ConcurrentHashMap[String, Histo]()

  def record(route: String, code: Int, seconds: Double): Unit = {
    requests.computeIfAbsent((route, code), _ => new LongAdder).increment()
    durations.computeIfAbsent(route, _ => new Histo(secondsBuckets)).observe(seconds)
  }

  /** The encoded bytes one query answer streamed to its client. */
  def returned(route: String, bytes: Long): Unit =
    bytesReturned.computeIfAbsent(route, _ => new Histo(bytesBuckets)).observe(bytes.toDouble)

  /** Prometheus text exposition format (version 0.0.4). */
  def render(): String = {
    val sb = new StringBuilder
    sb.append("# HELP graft_requests_total HTTP requests by route and status code\n")
    sb.append("# TYPE graft_requests_total counter\n")
    requests.entrySet().stream().sorted((a, b) => a.getKey.toString.compareTo(b.getKey.toString))
      .forEach { e =>
        val (route, code) = e.getKey
        sb.append(s"""graft_requests_total{route="$route",code="$code"} ${e.getValue.sum()}""")
        sb.append('\n')
      }
    histogram(sb, "graft_request_duration_seconds", "HTTP request latency by route",
      secondsBuckets, durations)
    histogram(sb, "graft_bytes_returned", "Encoded query result bytes by route",
      bytesBuckets, bytesReturned)
    sb.toString
  }

  private def histogram(sb: StringBuilder, name: String, help: String,
                        buckets: Array[Double], byRoute: ConcurrentHashMap[String, Histo]): Unit = {
    sb.append(s"# HELP $name $help\n")
    sb.append(s"# TYPE $name histogram\n")
    byRoute.entrySet().stream().sorted((a, b) => a.getKey.compareTo(b.getKey))
      .forEach { e =>
        val route = e.getKey
        val h = e.getValue
        buckets.indices.foreach { i =>
          sb.append(s"""${name}_bucket{route="$route",le="${buckets(i)}"} ${h.bucketCounts(i).sum()}""")
          sb.append('\n')
        }
        sb.append(s"""${name}_bucket{route="$route",le="+Inf"} ${h.count.sum()}""")
        sb.append('\n')
        sb.append(s"""${name}_sum{route="$route"} ${h.sum.sum()}""")
        sb.append('\n')
        sb.append(s"""${name}_count{route="$route"} ${h.count.sum()}""")
        sb.append('\n')
      }
  }
}

object Metrics {
  /** Bounded-cardinality route class for a request path. */
  def routeOf(path: String): String =
    if (path == "/healthcheck") "health"
    else if (path == "/metrics") "metrics"
    else if (path == "/dashboard") "dashboard"
    else if (path == "/login" || path == "/logout" ||
      path.startsWith("/oauth/")) "auth"
    else if (path.startsWith("/share/")) "share_data"
    else if (path.startsWith("/api/data/insert/")) "insert"
    else if (path == "/api/data/query") "query"
    else if (path == "/api/data/copy") "copy"
    else if (path == "/api/data/query/share") "share_create"
    else if (path.startsWith("/api/tables")) "tables"
    else if (path.startsWith("/api/destinations")) "destinations"
    else if (path.startsWith("/api/connections")) "connections"
    else "other"
}
