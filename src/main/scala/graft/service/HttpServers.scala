package graft.service

import com.sun.net.httpserver.HttpServer
import java.net.InetSocketAddress
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

/** The one place this project creates a JDK `HttpServer`: the service
  * and the loopback fake servers of the tests alike.
  *
  * The JDK server answers in two writes: `sendResponseHeaders` flushes
  * the headers and the body follows. Under Nagle's algorithm the kernel
  * holds that small second segment until the client ACKs the headers,
  * and on a kept-alive connection Linux delays the ACK by ~40 ms, so
  * back-to-back requests took ~48 ms each for ~1 ms of work.
  * `TCP_NODELAY` on every accepted socket removes the stall. The JDK
  * offers it only as the system property `sun.net.httpserver.nodelay`,
  * which `sun.net.httpserver.ServerConfig` reads once per JVM, when the
  * first server is created: one server created any other way first
  * freezes it off for the whole JVM. */
object HttpServers {

  private val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** Name prefix of every pool thread, `graft-http-<n>`. */
  val ThreadPrefix = "graft-http-"

  private val threads = new AtomicInteger

  /** An unstarted server bound to `address`, with `TCP_NODELAY` on and its
    * own pool of 4 daemon threads. `HttpServer.stop` never shuts the pool
    * down; daemon threads let a stopped server's idle pool outlive it
    * without keeping the JVM alive. */
  private[graft] def create(address: InetSocketAddress): HttpServer = {
    System.setProperty(NoDelayProperty, "true")
    val server = HttpServer.create(address, 0)
    server.setExecutor(Executors.newFixedThreadPool(4, { r =>
      val t = new Thread(r, s"$ThreadPrefix${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    }))
    server
  }
}
