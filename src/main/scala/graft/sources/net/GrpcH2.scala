package graft.sources.net

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, Closeable,
  EOFException, IOException, InputStream}
import java.net.InetSocketAddress
import java.nio.channels.ClosedChannelException
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}

import scala.util.control.NonFatal

import io.netty.bootstrap.{Bootstrap, ServerBootstrap}
import io.netty.buffer.{ByteBufUtil, Unpooled}
import io.netty.channel.{Channel, ChannelFuture, ChannelFutureListener,
  ChannelHandler, ChannelHandlerContext, ChannelInboundHandlerAdapter,
  ChannelInitializer, ChannelOption, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.nio.{NioServerSocketChannel, NioSocketChannel}
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers,
  DefaultHttp2HeadersFrame, DefaultHttp2WindowUpdateFrame, Http2DataFrame,
  Http2FrameCodecBuilder, Http2Headers, Http2HeadersFrame, Http2MultiplexHandler,
  Http2Settings, Http2StreamChannel, Http2StreamChannelBootstrap}
import io.netty.handler.ssl.{SslHandler, SslHandshakeCompletionEvent}
import io.netty.util.ReferenceCountUtil
import io.netty.util.concurrent.{DefaultThreadFactory, Promise}
import javax.net.ssl.{SSLContext, SSLHandshakeException}

/** gRPC server-streaming over HTTP/2 on Netty — the transport the
  * reference's `@apibara/protocol` subscription rides
  * (`src/index.ts:16-24,127-141`). [[BlockProtoCodec]] frames the stream
  * grammar as protobuf inside gRPC Length-Prefixed-Messages (LPM); this
  * module carries those LPM bytes in the DATA frames of one HTTP/2 stream
  * per RPC: `POST` [[GrpcPath]] with `content-type: application/grpc+proto`
  * and the LPM subscribe body, answered by `:status 200` headers, one DATA
  * frame per message, and `grpc-status: 0` trailers.
  *
  * Netty's `Http2FrameCodec` owns framing, HPACK and flow control;
  * `Http2MultiplexHandler` gives every stream its own child channel, so
  * one connection serves any number of concurrent RPCs. Cleartext is h2c
  * with prior knowledge. With an `SSLContext` it is h2 over TLS: ALPN must
  * agree on "h2" ([[TlsWire.engine]]) before either side installs the
  * HTTP/2 codec, so a client that negotiated anything else is refused
  * before a single HTTP/2 byte is read (RFC 7540 §3.3).
  *
  * Both windows (stream and connection) are [[Window]]; Netty grants
  * credit back at half a window as the reader consumes. The server writes
  * each message as it is sent; the client reads with auto-read off, so
  * the receive window, not the heap, bounds what waits in flight.
  */
object GrpcH2 {

  /** The path the reference's subscription RPC would use; field/package
    * naming is this repo's (see [[ProtoWire]]'s header on why parity is
    * not claimed). */
  val GrpcPath = "/graft.v1.BlockStream/StreamData"

  /** Receive window for streams and the connection (4 MiB). The RFC's
    * 65535-octet default costs a credit round-trip every 64 KB. */
  val Window: Int = 4 << 20
  private val RfcWindow = 65535

  /** One JVM-wide event loop group, created on first use. Its daemon
    * threads never block a JVM exit, and no server or call waits out a
    * graceful shutdown. */
  private lazy val group = new MultiThreadIoEventLoopGroup(2,
    new DefaultThreadFactory("graft-grpc", true), NioIoHandler.newFactory())

  private def lpm(msg: Array[Byte]) = {
    val out = new ByteArrayOutputStream(5 + msg.length)
    ProtoWire.writeFrame(out, msg)
    Unpooled.wrappedBuffer(out.toByteArray)
  }

  private def trailers(status: Int, message: String = null): Http2Headers = {
    val h = new DefaultHttp2Headers().add("grpc-status", status.toString)
    if (message != null) h.add("grpc-message", message)
    h
  }

  /** Holds a connection back until it may speak HTTP/2: at once for h2c,
    * after a handshake that agreed on ALPN "h2" for TLS. It then installs
    * the codec and the multiplexer, raises the connection window, and
    * completes `ready`; on any failure it closes the connection and fails
    * `ready` with the cause. */
  private final class Gate(ssl: Option[SslHandler], server: Boolean,
      streams: ChannelHandler, ready: Promise[Channel])
      extends ChannelInboundHandlerAdapter {

    override def channelActive(ctx: ChannelHandlerContext): Unit = {
      if (ssl.isEmpty) open(ctx)
      ctx.fireChannelActive()
    }

    override def userEventTriggered(ctx: ChannelHandlerContext, evt: AnyRef): Unit =
      evt match {
        case e: SslHandshakeCompletionEvent =>
          val alpn = if (e.isSuccess) ssl.get.engine.getApplicationProtocol else null
          if (alpn == "h2") open(ctx)
          else fail(ctx, if (!e.isSuccess) e.cause
            else new SSLHandshakeException(s"ALPN did not negotiate h2 (got '$alpn')"))
        case _ => ctx.fireUserEventTriggered(evt)
      }

    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      fail(ctx, cause)

    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      ready.tryFailure(new ClosedChannelException)
      ctx.fireChannelInactive()
    }

    private def fail(ctx: ChannelHandlerContext, cause: Throwable): Unit = {
      ready.tryFailure(cause)
      ctx.close()
    }

    private def open(ctx: ChannelHandlerContext): Unit = {
      val codec = (if (server) Http2FrameCodecBuilder.forServer()
        else Http2FrameCodecBuilder.forClient())
        .initialSettings(Http2Settings.defaultSettings().initialWindowSize(Window))
        .build()
      ctx.pipeline.addAfter(ctx.name, "h2", codec)
        .addAfter("h2", null, new Http2MultiplexHandler(streams))
        .remove(this)
      ctx.channel.writeAndFlush(new DefaultHttp2WindowUpdateFrame(Window - RfcWindow))
      ready.trySuccess(ctx.channel)
    }
  }

  private def pipeline(ch: Channel, tls: Option[SSLContext],
      peer: Option[(String, Int)], streams: ChannelHandler,
      ready: Promise[Channel]): Unit = {
    val ssl = tls.map(ctx => new SslHandler(TlsWire.engine(ctx, peer)))
    ssl.foreach(ch.pipeline.addLast(_))
    ch.pipeline.addLast(new Gate(ssl, server = peer.isEmpty, streams, ready))
  }

  // ------------------------------------------------------------ server

  /** A listening gRPC server; [[close]] stops accepting and closes every
    * open connection, which ends the RPC threads at their next send. */
  final class Server private[GrpcH2] (listener: Channel,
      conns: java.util.Set[Channel]) extends Closeable {
    def port: Int = listener.localAddress.asInstanceOf[InetSocketAddress].getPort
    def close(): Unit = {
      listener.close().syncUninterruptibly()
      conns.forEach(c => c.close())
    }
  }

  /** Serve `rpc` on `port` (0 picks one). Each RPC runs on its own daemon
    * thread with the decoded LPM request and a `send` that writes and
    * flushes one LPM message, first waiting while flow control holds the
    * stream unwritable; `send` throws once the stream has closed. When
    * `rpc` returns the stream ends with `grpc-status: 0`; when it throws,
    * with `grpc-status: 2` and the error's message. */
  def serve(port: Int, tls: Option[SSLContext])(
      rpc: (Array[Byte], Array[Byte] => Unit) => Unit): Server = {
    val conns = ConcurrentHashMap.newKeySet[Channel]()
    val streams = new ChannelInitializer[Http2StreamChannel] {
      def initChannel(ch: Http2StreamChannel): Unit =
        ch.pipeline.addLast(new ServerStream(rpc))
    }
    val listener = new ServerBootstrap().group(group)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[Channel] {
        def initChannel(ch: Channel): Unit = {
          conns.add(ch)
          ch.closeFuture.addListener(new ChannelFutureListener {
            def operationComplete(f: ChannelFuture): Unit = { conns.remove(ch); () }
          })
          pipeline(ch, tls, None, streams, ch.eventLoop.newPromise[Channel]())
        }
      })
      .bind(port).sync().channel()
    new Server(listener, conns)
  }

  /** One request stream: collect the LPM request to END_STREAM, answer the
    * headers, then hand the stream to an RPC thread. */
  private final class ServerStream(rpc: (Array[Byte], Array[Byte] => Unit) => Unit)
      extends ChannelInboundHandlerAdapter {
    private val request = new ByteArrayOutputStream()
    private var rejected = false
    private val writable = new Object

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      try msg match {
        case h: Http2HeadersFrame =>
          rejected = !Option(h.headers.path).exists(_.toString == GrpcPath)
          if (rejected) ctx.writeAndFlush(new DefaultHttp2HeadersFrame(
            new DefaultHttp2Headers().status("404"), true))
        case d: Http2DataFrame if !rejected =>
          d.content.readBytes(request, d.content.readableBytes)
          if (d.isEndStream) start(ctx.channel)
        case _ => ()
      } finally ReferenceCountUtil.release(msg)

    private def start(ch: Channel): Unit = {
      val body = ProtoWire.readFrame(new ByteArrayInputStream(request.toByteArray))
        .getOrElse(throw new EOFException("request stream ended before the LPM frame"))
      ch.writeAndFlush(new DefaultHttp2HeadersFrame(new DefaultHttp2Headers()
        .status("200").add("content-type", "application/grpc+proto"), false))
      val t = new Thread(() => {
        val end = try { rpc(body, send(ch, _)); trailers(0) }
        catch { case NonFatal(e) => trailers(2, String.valueOf(e.getMessage)) }
        ch.writeAndFlush(new DefaultHttp2HeadersFrame(end, true))
        ()
      }, "graft-grpc-rpc")
      t.setDaemon(true)
      t.start()
    }

    private def send(ch: Channel, msg: Array[Byte]): Unit = {
      writable.synchronized {
        while (ch.isActive && !ch.isWritable) writable.wait(100)
      }
      if (!ch.isActive) throw new ClosedChannelException
      ch.writeAndFlush(new DefaultHttp2DataFrame(lpm(msg), false))
    }

    private def wake(): Unit = writable.synchronized(writable.notifyAll())

    override def channelWritabilityChanged(ctx: ChannelHandlerContext): Unit = {
      wake(); ctx.fireChannelWritabilityChanged()
    }

    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      wake(); ctx.fireChannelInactive()
    }

    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      ctx.close() // resets this stream only
  }

  // ------------------------------------------------------------ client

  /** Dial `host:port` and wait until the connection speaks HTTP/2. TLS
    * verifies the certificate against `host`; a refused handshake throws
    * its `SSLHandshakeException`. */
  def connect(host: String, port: Int, tls: Option[SSLContext]): Connection = {
    val ready = group.next().newPromise[Channel]()
    val ch = new Bootstrap().group(group).channel(classOf[NioSocketChannel])
      .handler(new ChannelInitializer[Channel] {
        def initChannel(ch: Channel): Unit =
          pipeline(ch, tls, Some((host, port)), new ChannelInboundHandlerAdapter, ready)
      })
      .connect(host, port).sync().channel()
    try ready.sync()
    catch { case e: Throwable => ch.close(); throw e }
    new Connection(ch, s"$host:$port", if (tls.isDefined) "https" else "http")
  }

  /** A client connection: each [[call]] opens one more stream on it. */
  final class Connection private[GrpcH2] (ch: Channel, authority: String,
      scheme: String) extends Closeable {

    /** Open a stream, send the LPM `request`, and return the response's
      * DATA bytes as the InputStream [[ProtoWire.readFrame]] consumes. A
      * non-200 `:status` or a non-zero `grpc-status` fails the read. */
    def call(request: Array[Byte]): InputStream = {
      val events = new LinkedBlockingQueue[AnyRef]()
      val stream = new Http2StreamChannelBootstrap(ch)
        .option[java.lang.Boolean](ChannelOption.AUTO_READ, false)
        .handler(new ClientStream(events)).open().sync().getNow
      stream.write(new DefaultHttp2HeadersFrame(new DefaultHttp2Headers()
        .method("POST").scheme(scheme).path(GrpcPath).authority(authority)
        .add("content-type", "application/grpc+proto").add("te", "trailers"), false))
      stream.writeAndFlush(new DefaultHttp2DataFrame(lpm(request), true))
      new Body(stream, events)
    }

    def close(): Unit = ch.close().syncUninterruptibly()
  }

  private case object EndOfStream
  private case object Closed

  /** Moves the stream's frames onto the queue the reading thread drains. */
  private final class ClientStream(events: LinkedBlockingQueue[AnyRef])
      extends ChannelInboundHandlerAdapter {
    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      try msg match {
        case h: Http2HeadersFrame =>
          events.put(h.headers)
          if (h.isEndStream) events.put(EndOfStream)
        case d: Http2DataFrame =>
          if (d.content.isReadable) events.put(ByteBufUtil.getBytes(d.content))
          if (d.isEndStream) events.put(EndOfStream)
        case _ => ()
      } finally ReferenceCountUtil.release(msg)
    override def channelInactive(ctx: ChannelHandlerContext): Unit = events.put(Closed)
    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      events.put(cause)
  }

  private final class Body(stream: Http2StreamChannel,
      events: LinkedBlockingQueue[AnyRef]) extends InputStream {
    private var buf: Array[Byte] = Array.emptyByteArray
    private var pos = 0
    private var eos = false

    private def pull(): Unit =
      while (!eos && pos >= buf.length) {
        if (events.isEmpty) stream.read() // auto-read is off: ask for more
        events.take() match {
          case b: Array[Byte] => buf = b; pos = 0
          case h: Http2Headers => check(h)
          case EndOfStream => eos = true
          case Closed => throw new EOFException("peer closed mid-stream")
          case e: Throwable => throw new IOException(e)
        }
      }

    private def check(h: Http2Headers): Unit = {
      val status = Option(h.status).map(_.toString)
      if (status.exists(_ != "200"))
        throw new IOException(s"non-200 gRPC response: $h")
      val grpc = Option(h.get("grpc-status")).map(_.toString)
      if (grpc.exists(_ != "0"))
        throw new IOException(s"gRPC stream failed: status ${grpc.get}, " +
          s"${Option(h.get("grpc-message")).getOrElse("")}")
    }

    override def read(): Int = {
      pull()
      if (pos >= buf.length) -1
      else { val b = buf(pos) & 0xff; pos += 1; b }
    }

    // a zero-length read returns at once (the InputStream contract):
    // readNBytes issues one after every complete message, and pulling
    // there would hold that message until the next DATA frame arrives
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      pull()
      if (pos >= buf.length) return -1
      val n = math.min(len, buf.length - pos)
      System.arraycopy(buf, pos, b, off, n)
      pos += n
      n
    }
  }
}
