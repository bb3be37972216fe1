package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.engine.{LynxEngine, Sinks}

/** A handler's answer: status, body (empty = none) and extra headers. */
final class Reply(val status: Int, val body: Array[Byte],
    val headers: Map[String, String] = Map.empty)

object Reply {
  def apply(status: Int, body: String = ""): Reply =
    new Reply(status, body.getBytes(UTF_8), Map.empty)

  /** `{"error":msg}` with `status`. */
  def error(status: Int, msg: String): Reply =
    apply(status, s"""{"error":${Sinks.jsonString(String.valueOf(msg))}}""")
}

/** The HTTP plumbing LynxServer and ShardRouter share: the server and
  * its pool, the POST-only check, body parsing and the mapping of
  * every failure to a status. A handler only parses, calls the engine
  * and builds its success body.
  *
  * Failure contract (reference main.rs:59-65, 84-87: axum's Json
  * extractor answers a malformed body with a 4xx, an engine error is a
  * 500):
  *  - any method but POST on a POST route → 405;
  *  - `parse` throws → 422 (with `{"error":msg}` when
  *    `explainBadBodies`, the router's contract);
  *  - the handler throws [[LynxEngine.NamespaceFencedException]] →
  *    422 + `Retry-After: 2` + `{"error":msg,"retryable":true}`:
  *    transient for a racing writer, whose retry lands on the new
  *    owner once the router flips;
  *  - the handler throws anything else → [[Routes.Errors]] of the
  *    route decides.
  * Each failure is logged once, as one line: path, status, exception
  * class and the first line of its message.
  */
final class Routes(host: String, port: Int, explainBadBodies: Boolean) {
  import Routes._

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  // without an executor every request serializes on the dispatch
  // thread; the reference serves each request on its own tokio task
  // (main.rs:91) and the engine is concurrency-safe (ConcurrencySpec),
  // so give the server a real pool
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(8, Runtime.getRuntime.availableProcessors()))
  server.setExecutor(pool)

  /** A route that answers every method and reads no body. */
  def any(path: String)(handle: => Reply): Unit =
    route(path, post = false, _ => (), ServerFault)(_ => handle)

  /** A POST route: `parse` turns the body into the handler's input. */
  def post[A](path: String, parse: Array[Byte] => A,
      errors: Errors = ServerFault)(handle: A => Reply): Unit =
    route(path, post = true, ex => parse(ex.getRequestBody.readAllBytes()),
      errors)(handle)

  /** The one registration path behind [[any]] and [[post]]. `parse`
    * gets the whole exchange, so a route that reads a request header
    * (the router's relay) registers here directly.
    */
  private[http] def route[A](path: String, post: Boolean,
      parse: HttpExchange => A, errors: Errors)(handle: A => Reply)
      : Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val reply =
        if (post && ex.getRequestMethod != "POST") Reply(405)
        else {
          val input =
            try Right(parse(ex))
            catch { case e: Exception => Left(e) }
          input match {
            case Left(e) =>
              fail(path, e,
                if (explainBadBodies) Reply.error(422, e.getMessage)
                else Reply(422))
            case Right(a) =>
              try handle(a)
              catch {
                case e: Exception => fail(path, e, failure(e, errors))
              }
          }
        }
      send(ex, reply)
    })

  private def fail(path: String, e: Exception, reply: Reply): Reply = {
    // the message's first line: Spark's carry whole stack traces
    val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
    System.err.println(s"[http] $path ${reply.status} ${
      e.getClass.getName} ${Sinks.jsonString(msg.getOrElse(""))}")
    reply
  }

  private def send(ex: HttpExchange, r: Reply): Unit = {
    r.headers.foreach { case (h, v) => ex.getResponseHeaders.set(h, v) }
    ex.sendResponseHeaders(r.status, if (r.body.isEmpty) -1 else r.body.length)
    if (r.body.nonEmpty) ex.getResponseBody.write(r.body)
    ex.close()
  }

  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }
  def boundPort: Int = server.getAddress.getPort
}

object Routes {
  /** What a route answers when its handler throws something other than
    * a fenced-namespace refusal.
    */
  sealed trait Errors
  /** Every exception is a bare 500, bad SQL included (main.rs:84-87). */
  case object ServerFault extends Errors
  /** IllegalArgumentException carries a contract the caller broke
    * (a cardinality bound, a vector dimension): 422 `{"error":msg}`.
    * Anything else is a bare 500.
    */
  case object ArgumentContract extends Errors
  /** As [[ArgumentContract]], and the 500 names its cause as well. */
  case object Explained extends Errors

  private def failure(e: Exception, errors: Errors): Reply = e match {
    case f: LynxEngine.NamespaceFencedException =>
      new Reply(422, (s"""{"error":${Sinks.jsonString(f.getMessage)}""" +
        ""","retryable":true}""").getBytes(UTF_8), Map("Retry-After" -> "2"))
    case _: IllegalArgumentException if errors != ServerFault =>
      Reply.error(422, e.getMessage)
    case _ if errors == Explained => Reply.error(500, e.getMessage)
    case _ => Reply(500)
  }
}
