package graft.lake

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import java.util.concurrent.ThreadLocalRandom
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

/** Object-store commit plane: an S3-protocol client for graft's two
  * storage primitives, built on the JDK alone (java.net.http +
  * javax.crypto) — no AWS SDK, which this sandbox's frozen jar set
  * doesn't carry and the library must not depend on.
  *
  * graft's commit discipline (reference: the MinIO service in
  * docker-compose.yml — the reference lakehouse's storage tier) needs
  * exactly these object operations:
  *
  *  - `putIfAbsent` — the commit arbiter. S3 supports atomic
  *    put-if-absent via the `If-None-Match: *` conditional write
  *    (public S3 API, also honored by MinIO): the winning writer gets
  *    200, every loser 412 PreconditionFailed. This is the same
  *    first-writer-wins primitive `GraftTable.writeAtomic` gets from
  *    `Files.createLink` on a local FS, so the WHOLE protocol — linear
  *    log slots, WAP publishes, transaction decision files — transfers
  *    unchanged. A 412 against a BYTE-IDENTICAL occupant is classified
  *    as this writer's own earlier PUT whose 200 was lost in transit
  *    (connection resets are routine against real S3) — success, not a
  *    lost race; commit JSONs carry a per-writer nonce precisely so
  *    byte-identity proves ownership.
  *  - `put` / [[Client.putFile]] — immutable uniquely-named artifacts
  *    (data/delete files). Plain PUT: names are unique and
  *    unreferenced until the commit JSON wins, so no conditional
  *    needed (`placeArtifact`'s contract). Files stream from disk
  *    (never a whole-file heap buffer) and switch to S3 multipart
  *    upload above a threshold — single PUT caps at 5 GB on real S3.
  *  - `get`/`list` — replay and recovery.
  *
  * Every request retries transient failures (IOException, HTTP
  * 500/503 SlowDown) with bounded exponential backoff + jitter — real
  * S3 throttles, and one 503 must never fail a commit.
  *
  * Requests are signed with AWS Signature Version 4 (public spec:
  * docs.aws.amazon.com/IAM/latest/UserGuide/create-signed-request.html),
  * implemented from the spec with JDK crypto; `S3ObjectStoreSpec` pins
  * the signature against AWS's published SigV4 example vector and
  * drives the full commit protocol through a real HTTP round trip.
  */
object GraftS3 {

  final case class Credentials(accessKey: String, secretKey: String)

  // ── SigV4 signing (pure; spec-pinned against the AWS example) ──────
  object SigV4 {
    private val hexDigits = "0123456789abcdef"

    def hex(bytes: Array[Byte]): String = {
      val sb = new StringBuilder(bytes.length * 2)
      bytes.foreach { b =>
        sb.append(hexDigits((b >> 4) & 0xf)).append(hexDigits(b & 0xf))
      }
      sb.toString
    }

    def sha256Hex(bytes: Array[Byte]): String =
      hex(MessageDigest.getInstance("SHA-256").digest(bytes))

    /** Streamed SHA-256 of a file — one 64 KiB buffer, never the whole
      * file on the heap (single-PUT uploads sign the real payload hash
      * without materializing the payload). */
    def sha256HexOfFile(file: Path): String = {
      val md = MessageDigest.getInstance("SHA-256")
      val in = Files.newInputStream(file)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      hex(md.digest())
    }

    def hmac(key: Array[Byte], data: String): Array[Byte] = {
      val mac = Mac.getInstance("HmacSHA256")
      mac.init(new SecretKeySpec(key, "HmacSHA256"))
      mac.doFinal(data.getBytes(UTF_8))
    }

    /** URI-encode per the SigV4 canonicalization rules: unreserved
      * characters pass through, '/' passes through only when
      * `keepSlash`, everything else %XX upper-hex. */
    def uriEncode(s: String, keepSlash: Boolean): String = {
      val sb = new StringBuilder
      s.getBytes(UTF_8).foreach { b =>
        val c = (b & 0xff).toChar
        // STRICT ASCII check: Char.isLetterOrDigit is true for Latin-1
        // high bytes (each byte of a multi-byte UTF-8 sequence), which
        // would leak raw bytes into the canonical form
        val unreserved = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' ||
          c == '.' || c == '~'
        if (unreserved || (c == '/' && keepSlash)) sb.append(c)
        else sb.append('%').append(hexDigits((b >> 4) & 0xf).toUpper)
          .append(hexDigits(b & 0xf).toUpper)
      }
      sb.toString
    }

    /** The Authorization header value for one request. `headers` must
      * already include host and x-amz-date; every entry is signed.
      * `amzDate` is the x-amz-date value (yyyyMMdd'T'HHmmss'Z'). */
    def authorization(method: String, canonicalPath: String,
        query: Seq[(String, String)], headers: Seq[(String, String)],
        payloadSha256: String, amzDate: String, region: String,
        creds: Credentials, service: String = "s3"): String = {
      val date = amzDate.take(8)
      val canonicalQuery = query
        .map { case (k, v) => (uriEncode(k, false), uriEncode(v, false)) }
        .sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
      val lower = headers.map { case (k, v) => (k.toLowerCase, v.trim) }.sortBy(_._1)
      val canonicalHeaders = lower.map { case (k, v) => s"$k:$v\n" }.mkString
      val signedHeaders = lower.map(_._1).mkString(";")
      val canonicalRequest = Seq(method, canonicalPath, canonicalQuery,
        canonicalHeaders, signedHeaders, payloadSha256).mkString("\n")
      val scope = s"$date/$region/$service/aws4_request"
      val stringToSign = Seq("AWS4-HMAC-SHA256", amzDate, scope,
        sha256Hex(canonicalRequest.getBytes(UTF_8))).mkString("\n")
      val signingKey = hmac(hmac(hmac(hmac(
        ("AWS4" + creds.secretKey).getBytes(UTF_8), date), region), service),
        "aws4_request")
      val signature = hex(hmac(signingKey, stringToSign))
      s"AWS4-HMAC-SHA256 Credential=${creds.accessKey}/$scope, " +
        s"SignedHeaders=$signedHeaders, Signature=$signature"
    }
  }

  /** Thrown when a conditional PUT loses (HTTP 412) — the object-store
    * twin of writeAtomic's "concurrent commit detected". */
  final class PreconditionFailed(val key: String)
    extends IllegalStateException(s"concurrent commit detected at $key (412)")

  /** An in-flight streaming upload ([[Client.streamingUpload]]): plain
    * OutputStream semantics plus the byte count a filesystem layer
    * caches as the object's size at close — ONLY when `completed`
    * (a broken stream's close ABORTS the upload: no object exists, so
    * caching its size would fabricate a phantom file). */
  abstract class UploadStream extends java.io.OutputStream {
    def bytesWritten: Long
    /** True once close() durably landed the object. */
    def completed: Boolean
  }

  /** Minimal path-style S3 REST client over java.net.http. Every
    * request is SigV4-signed; unsigned-able servers simply ignore the
    * header. Payloads are signed (x-amz-content-sha256 = real hash,
    * not UNSIGNED-PAYLOAD) — byte payloads are small commit JSONs and
    * file payloads hash in one streamed pass, so the integrity check
    * is effectively free.
    *
    * `partSizeBytes` bounds the per-part heap allocation of
    * [[putFile]]'s multipart path and `partConcurrency` how many such
    * buffers one upload holds in flight (peak heap per upload =
    * partConcurrency × partSizeBytes — a single huge artifact's mirror
    * latency cuts ~k× because its parts overlap instead of riding one
    * stream); `multipartThresholdBytes` picks single-streamed-PUT vs
    * multipart (real S3 caps single PUT at 5 GiB and parts at 5 GiB
    * with a 5 MiB minimum — defaults sit far inside both).
    * `maxAttempts`/`retryBaseMs` bound the transient-failure retry
    * loop. */
  final class Client(endpoint: URI, bucket: String, region: String,
      creds: Credentials,
      http: HttpClient = HttpClient.newHttpClient(),
      partSizeBytes: Int = 64 << 20,
      multipartThresholdBytes: Long = 256L << 20,
      maxAttempts: Int = 5,
      retryBaseMs: Long = 25,
      partConcurrency: Int = 4) {
    require(partSizeBytes > 0 && multipartThresholdBytes > 0 && maxAttempts >= 1 &&
      partConcurrency >= 1)

    /** High-water mark of the largest payload buffer this client ever
      * allocated for a [[putFile]] — lets specs PROVE the streaming
      * claim (peak ≤ max(64 KiB hash buffer, partSizeBytes), never the
      * file size). */
    private[graft] val peakBufferBytes = new AtomicLong(0)

    private val amzFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .withZone(ZoneOffset.UTC)
    private val hostHeader = {
      val p = endpoint.getPort
      if (p == -1) endpoint.getHost else s"${endpoint.getHost}:$p"
    }

    /** One signed request attempt. The publisher is a THUNK so each
      * retry re-reads its source (ofFile re-opens; ofByteArray is
      * idempotent) under a fresh signature/date. */
    private def sendOnce[T](method: String, key: String,
        query: Seq[(String, String)], payloadHash: String,
        publisher: () => HttpRequest.BodyPublisher,
        extraHeaders: Seq[(String, String)],
        handler: HttpResponse.BodyHandler[T]): HttpResponse[T] = {
      val amzDate = amzFmt.format(java.time.Instant.now())
      val canonicalPath = SigV4.uriEncode(s"/$bucket/$key", keepSlash = true)
      val signed = Seq("host" -> hostHeader, "x-amz-date" -> amzDate,
        "x-amz-content-sha256" -> payloadHash) ++ extraHeaders
      val auth = SigV4.authorization(method, canonicalPath, query, signed,
        payloadHash, amzDate, region, creds)
      val qs =
        if (query.isEmpty) ""
        else "?" + query.map { case (k, v) =>
          s"${SigV4.uriEncode(k, false)}=${SigV4.uriEncode(v, false)}"
        }.mkString("&")
      var b = HttpRequest.newBuilder(URI.create(
          s"${endpoint.getScheme}://$hostHeader$canonicalPath$qs"))
        .method(method, publisher())
        .header("Authorization", auth)
        .header("x-amz-date", amzDate)
        .header("x-amz-content-sha256", payloadHash)
      extraHeaders.foreach { case (k, v) => b = b.header(k, v) }
      http.send(b.build(), handler)
    }

    /** Bounded exponential backoff + jitter around transient failures:
      * IOException (connection reset / lost response) and HTTP 500 /
      * 503 SlowDown — S3 throttles routinely; one 503 must never fail
      * a commit. NOTE a retried conditional PUT whose FIRST attempt
      * was durably applied server-side comes back 412 — callers
      * classify that via the byte-identical-occupant rule, never here. */
    private def sendRetrying(method: String, key: String,
        query: Seq[(String, String)], payloadHash: String,
        publisher: () => HttpRequest.BodyPublisher,
        extraHeaders: Seq[(String, String)]): HttpResponse[Array[Byte]] =
      sendRetryingAs(method, key, query, payloadHash, publisher, extraHeaders,
        HttpResponse.BodyHandlers.ofByteArray())

    private def sendRetryingAs[T](method: String, key: String,
        query: Seq[(String, String)], payloadHash: String,
        publisher: () => HttpRequest.BodyPublisher,
        extraHeaders: Seq[(String, String)],
        handler: HttpResponse.BodyHandler[T]): HttpResponse[T] = {
      var attempt = 0
      while (true) {
        val r =
          try sendOnce(method, key, query, payloadHash, publisher, extraHeaders, handler)
          catch { case e: IOException =>
            attempt += 1
            if (attempt >= maxAttempts) throw e
            backoff(attempt); null
          }
        if (r != null) {
          if (r.statusCode != 500 && r.statusCode != 503) return r
          attempt += 1
          if (attempt >= maxAttempts) return r   // expect() reports it loudly
          backoff(attempt)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    private def backoff(attempt: Int): Unit = {
      val cap = math.min(retryBaseMs << math.min(attempt, 6), 2000L)
      Thread.sleep(cap / 2 + ThreadLocalRandom.current().nextLong(cap / 2 + 1))
    }

    private def send(method: String, key: String, query: Seq[(String, String)],
        body: Array[Byte], extraHeaders: Seq[(String, String)]):
        HttpResponse[Array[Byte]] = {
      val publisher = () =>
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofByteArray(body)
      sendRetrying(method, key, query, SigV4.sha256Hex(body), publisher, extraHeaders)
    }

    private def expect(r: HttpResponse[Array[Byte]], codes: Int*): HttpResponse[Array[Byte]] = {
      require(codes.contains(r.statusCode),
        s"S3 ${r.request.method} ${r.request.uri} → HTTP ${r.statusCode}: " +
          new String(r.body(), UTF_8).take(200))
      r
    }

    /** Unconditional PUT — immutable uniquely-named artifacts. */
    def put(key: String, bytes: Array[Byte]): Unit =
      expect(send("PUT", key, Nil, bytes, Nil), 200)

    /** True when the durable occupant of `key` is byte-identical to
      * `bytes` — under graft's per-writer-nonce'd commit JSONs that
      * PROVES the occupant is this writer's own earlier PUT. */
    private def occupantIsOwn(key: String, bytes: Array[Byte]): Boolean =
      get(key).exists(java.util.Arrays.equals(_, bytes))

    /** Conditional PUT (`If-None-Match: *`): true = this writer owns
      * the key; throws [[PreconditionFailed]] on a genuine lost race so
      * callers share writeAtomic's slot-race control flow.
      *
      * Lost-response idempotency: real S3 can durably apply the PUT
      * and then drop the 200 (connection reset). The in-flight retry
      * then 412s against this writer's OWN object; without the
      * byte-identical-occupant check the writer would misclassify its
      * win as a loss, auto-retry onto slot N+1, and the operation
      * would replay twice once a fleet sync resurrects slot N. This is
      * the object-store twin of the relaxation `writeAtomic` already
      * applies to a local occupant. */
    def putIfAbsent(key: String, bytes: Array[Byte]): Boolean = {
      val r =
        try sendRetrying("PUT", key, Nil, SigV4.sha256Hex(bytes),
          () => HttpRequest.BodyPublishers.ofByteArray(bytes),
          Seq("If-None-Match" -> "*"))
        catch { case e: IOException =>
          // every attempt died in transit — ownership is decided by
          // what is durably there, not by the lost responses
          if (occupantIsOwn(key, bytes)) return true else throw e
        }
      if (r.statusCode == 412) {
        if (occupantIsOwn(key, bytes)) true
        else throw new PreconditionFailed(key)
      } else { expect(r, 200); true }
    }

    /** Streaming PUT of a file — the whole file NEVER sits on the
      * heap. Below the multipart threshold: one PUT whose payload hash
      * is a streamed pass and whose body is `BodyPublishers.ofFile`
      * (two sequential disk reads, 64 KiB buffers). Above it: S3
      * multipart upload (initiate → N part PUTs off one reused
      * part-size buffer → complete), which is also how artifacts
      * larger than S3's 5 GiB single-PUT cap must travel. */
    def putFile(key: String, file: Path): Unit = {
      val size = Files.size(file)
      if (size < multipartThresholdBytes) {
        track(64 * 1024)
        expect(sendRetrying("PUT", key, Nil, SigV4.sha256HexOfFile(file),
          () => HttpRequest.BodyPublishers.ofFile(file), Nil), 200)
      } else multipartUpload(key, file)
    }

    private def track(n: Long): Unit = peakBufferBytes.getAndUpdate(math.max(_, n))

    /** Server-side object copy (public S3 CopyObject: PUT with
      * `x-amz-copy-source`) — the direct-write plane's publish verb: a
      * staged task output becomes the committed artifact without its
      * bytes ever transiting this JVM. One request serves up to S3's
      * 5 GiB CopyObject ceiling, far above any sanely-split task
      * output (Spark's maxPartitionBytes sizes splits in the 100s of
      * MB); larger objects would need multipart UploadPartCopy. */
    def copyObject(srcKey: String, dstKey: String): Unit =
      expect(sendRetrying("PUT", dstKey, Nil,
        SigV4.sha256Hex(Array.emptyByteArray),
        () => HttpRequest.BodyPublishers.noBody(),
        Seq("x-amz-copy-source" ->
          SigV4.uriEncode(s"/$bucket/$srcKey", keepSlash = true))), 200)

    /** Streaming upload as an OutputStream — the TASK-SIDE write
      * transport (direct-to-store staging): a parquet writer streams
      * row groups in, parts PUT synchronously as the one part-size
      * buffer fills, so an open stream holds partSizeBytes of heap and
      * never the file. A payload that fits the first buffer closes as
      * a single sized PUT (job markers included — empty is valid);
      * anything larger travels as the standard multipart trio, with a
      * close-time failure aborting the upload so parts never leak.
      * Parallelism comes from MANY tasks each holding one stream —
      * within a stream the parts are sequential by construction
      * (parquet produces bytes in order).
      *
      * Lost-COMPLETE-response idempotency follows the [[putFile]]
      * multipart rule, with the head/tail identity samples captured
      * FROM THE STREAM (there is no file to re-read): a retried
      * complete that 404s against a same-size object whose head+tail
      * bytes match is this stream's own landed complete. */
    def streamingUpload(key: String): GraftS3.UploadStream = new GraftS3.UploadStream {
      // the part buffer GROWS geometrically to partSizeBytes instead of
      // allocating the full part up front: most staged files (committer
      // markers, delete shards, small task splits) are far below one
      // part, and N concurrent task streams each pinning 64 MiB of heap
      // for a few-KB file is exactly the buffer bloat the peak-buffer
      // metric exists to catch — track() records REALIZED allocation
      private var buf = new Array[Byte](math.min(partSizeBytes, 64 << 10))
      private var n = 0
      private var uploadId: String = null
      private var partNum = 0
      private val etags = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      private var total = 0L
      private val sampleLen = 8192
      private val head = new java.io.ByteArrayOutputStream()
      private val tailRing = new Array[Byte](sampleLen)
      private var ringCount = 0L
      private var closed = false
      /** A part PUT (or initiate) failed mid-stream: the writer's own
        * failure path will close() us in a finally — that close must
        * ABORT the upload, never complete a torn object. */
      private var broken = false
      @volatile private var done = false
      track(buf.length)

      def bytesWritten: Long = total
      def completed: Boolean = done

      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(src: Array[Byte], off: Int, len: Int): Unit = {
        if (closed) throw new IOException(s"write after close: $key")
        var o = off
        var rem = len
        while (rem > 0) {
          if (n == buf.length) {
            if (buf.length < partSizeBytes) {
              // grow toward one part; only a buffer AT part size flushes
              // (multipart parts below the last must be full-size)
              val grown = math.min(partSizeBytes.toLong, buf.length * 4L).toInt
              buf = java.util.Arrays.copyOf(buf, grown)
              track(grown)
            } else flushPart()
          }
          val take = math.min(rem, buf.length - n)
          System.arraycopy(src, o, buf, n, take)
          n += take; o += take; rem -= take
        }
        if (head.size < sampleLen)
          head.write(src, off, math.min(len, sampleLen - head.size))
        // ring keeps the last sampleLen STREAM bytes: pushing only each
        // call's last min(len, sampleLen) bytes preserves that, since
        // any skipped byte is older than sampleLen pushed ones
        var i = off + math.max(0, len - sampleLen)
        val end = off + len
        while (i < end) {
          tailRing((ringCount % sampleLen).toInt) = src(i)
          ringCount += 1; i += 1
        }
        total += len
      }

      private def flushPart(): Unit =
        try {
          if (uploadId == null) uploadId = initiateUpload(key)
          partNum += 1
          etags += partNum -> putPartSync(key, uploadId, partNum, buf, n)
          n = 0
        } catch { case t: Throwable => broken = true; throw t }

      private def abortQuiet(): Unit =
        if (uploadId != null) {
          try send("DELETE", key, Seq("uploadId" -> uploadId),
            Array.emptyByteArray, Nil)
          catch { case scala.util.control.NonFatal(_) => () }
        }

      private def tailBytes: Array[Byte] = {
        val len = math.min(ringCount, sampleLen.toLong).toInt
        val out = new Array[Byte](len)
        var i = 0
        while (i < len) {
          out(i) = tailRing(((ringCount - len + i) % sampleLen).toInt)
          i += 1
        }
        out
      }

      private def samplesMatchStream(): Boolean = {
        def sample(from: Long, expectBytes: Array[Byte]): Boolean =
          expectBytes.isEmpty || rangedGet(key, from, from + expectBytes.length - 1)
            .exists(java.util.Arrays.equals(_, expectBytes))
        val t = tailBytes
        sample(0L, head.toByteArray) && sample(total - t.length, t)
      }

      override def close(): Unit = if (!closed) {
        closed = true
        if (broken) abortQuiet()   // failure-path close: abort, don't mask
        else if (uploadId == null) {
          put(key, java.util.Arrays.copyOf(buf, n))
          done = true
        } else {
          try {
            if (n > 0) flushPart()
            val completeXml = "<CompleteMultipartUpload>" +
              etags.sortBy(_._1).map { case (p, e) =>
                s"<Part><PartNumber>$p</PartNumber><ETag>$e</ETag></Part>"
              }.mkString + "</CompleteMultipartUpload>"
            val resp = send("POST", key, Seq("uploadId" -> uploadId),
              completeXml.getBytes(UTF_8), Nil)
            if (resp.statusCode == 404 && sizeOf(key).contains(total) &&
              samplesMatchStream()) ()
            else expect(resp, 200)
            done = true
          } catch { case t: Throwable =>
            abortQuiet()
            throw t
          }
        }
      }
    }

    private def initiateUpload(key: String): String = {
      val initXml = new String(expect(
        send("POST", key, Seq("uploads" -> ""), Array.emptyByteArray, Nil), 200)
        .body(), UTF_8)
      "<UploadId>([^<]*)</UploadId>".r.findFirstMatchIn(initXml)
        .getOrElse(throw new IllegalStateException(
          s"initiate multipart returned no UploadId: ${initXml.take(200)}"))
        .group(1)
    }

    /** One synchronous part PUT off the caller's own thread — the
      * STREAMING upload's transport (task-side writers parallelize
      * across tasks, not within one stream). */
    private def putPartSync(key: String, uploadId: String, partNum: Int,
        buf: Array[Byte], len: Int): String = {
      val hash = MessageDigest.getInstance("SHA-256")
      hash.update(buf, 0, len)
      expect(sendRetrying("PUT", key,
        Seq("partNumber" -> partNum.toString, "uploadId" -> uploadId),
        SigV4.hex(hash.digest()),
        () => HttpRequest.BodyPublishers.ofByteArray(buf, 0, len), Nil), 200)
        .headers.firstValue("ETag").orElse("")
    }

    private def multipartUpload(key: String, file: Path): Unit = {
      val uploadId = initiateUpload(key)
      try uploadParts(key, file, uploadId)
      catch { case t: Throwable =>
        // AbortMultipartUpload — on real S3 an abandoned upload's parts
        // accrue STORAGE until a lifecycle rule reaps them; the mirror
        // failure is already loud, the abort just doesn't leak
        try send("DELETE", key, Seq("uploadId" -> uploadId),
          Array.emptyByteArray, Nil)
        catch { case _: Throwable => () }   // best-effort; never mask t
        throw t
      }
    }

    private def uploadParts(key: String, file: Path, uploadId: String): Unit = {
      val in = Files.newInputStream(file)
      try {
        // Up to `partConcurrency` parts in flight off a rotating buffer
        // pool: a single huge artifact — otherwise the pre-slot
        // barrier's worst case, since cross-file parallelism can't help
        // a one-file commit — overlaps its part PUTs ~k×, at the
        // documented k×partSize peak-buffer cost (tracked: the proof
        // spec pins it). Parts run on the DEDICATED part pool:
        // putFile itself runs on mirrorPool threads, and submitting
        // subtasks to the same bounded pool would deadlock the moment
        // every thread holds a file-level task waiting on part-level
        // tasks. A buffer re-enters rotation only after its part's
        // future completes, so retries re-reading the buffer never race
        // the next fill.
        val pending = scala.collection.mutable.Queue
          .empty[(Int, Array[Byte], java.util.concurrent.Future[String])]
        val free = scala.collection.mutable.Queue.empty[Array[Byte]]
        // Abort protocol: every part task checks this FIRST — a failed
        // sibling flips it, queued-but-unstarted parts then return
        // without issuing their PUT, and the failure path AWAITS every
        // pending future to actual termination (Future.cancel is
        // useless here: cancel(true)+get returns immediately with
        // CancellationException while the task may still be mid-PUT,
        // so a sibling part could land AFTER the caller's
        // AbortMultipartUpload — an orphaned, billed part on real S3).
        // Already-running parts finish their bounded attempt instead
        // of being interrupted; the abort is issued only once nothing
        // is in flight.
        val uploadAborted = new java.util.concurrent.atomic.AtomicBoolean(false)
        var allocated = 0
        val etags = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
        def drainOne(): Unit = {
          val (p, buf, f) = pending.dequeue()
          val etag =
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
          etags += p -> etag
          free.enqueue(buf)
        }
        try {
          var part = 1
          var eof = false
          while (!eof) {
            if (free.isEmpty && allocated >= partConcurrency) drainOne()
            val buf =
              if (free.nonEmpty) free.dequeue()
              else {
                allocated += 1
                track(allocated.toLong * partSizeBytes)
                new Array[Byte](partSizeBytes)
              }
            var n = 0
            while (n < buf.length && !eof) {
              val r = in.read(buf, n, buf.length - n)
              if (r < 0) eof = true else n += r
            }
            if (n > 0) {
              val (pNum, len) = (part, n)
              val hash = MessageDigest.getInstance("SHA-256")
              hash.update(buf, 0, len)
              val hashHex = SigV4.hex(hash.digest())
              pending.enqueue((pNum, buf, partPool.submit(
                new java.util.concurrent.Callable[String] {
                  def call(): String = {
                    if (uploadAborted.get) throw new java.util.concurrent
                      .CancellationException(s"upload of $key aborted")
                    expect(sendRetrying("PUT", key,
                      Seq("partNumber" -> pNum.toString, "uploadId" -> uploadId),
                      hashHex,
                      () => HttpRequest.BodyPublishers.ofByteArray(buf, 0, len), Nil), 200)
                      .headers.firstValue("ETag").orElse("")
                  }
                })))
              part += 1
            } else free.enqueue(buf)
          }
          while (pending.nonEmpty) drainOne()
        } catch { case t: Throwable =>
          // a failed part must not leave siblings racing an upload the
          // caller is about to abort: flip the abort flag (unstarted
          // parts bail before their PUT) and AWAIT every pending
          // future to real termination — f.get() on a never-cancelled
          // future returns only when the task has finished, so nothing
          // is in flight when the caller issues AbortMultipartUpload.
          // Sibling failures never mask t.
          uploadAborted.set(true)
          pending.foreach { case (_, _, f) =>
            try f.get() catch { case _: Throwable => () }
          }
          throw t
        }
        val completeXml = "<CompleteMultipartUpload>" + etags.sortBy(_._1).map {
          case (p, e) => s"<Part><PartNumber>$p</PartNumber><ETag>$e</ETag></Part>"
        }.mkString + "</CompleteMultipartUpload>"
        val done = send("POST", key, Seq("uploadId" -> uploadId),
          completeXml.getBytes(UTF_8), Nil)
        // lost-response idempotency, multipart edition: a complete that
        // landed server-side but whose response was dropped makes the
        // retried POST 404 (the uploadId is consumed) — the object
        // itself decides whether OUR complete won. Size equality alone
        // is weaker than the byte-identity proof used everywhere else
        // (a same-size foreign object would be silently accepted), so
        // the probe also compares head+tail byte samples against the
        // file via ranged GETs — still O(sample), never a re-download.
        // (A lost INITIATE response can still orphan a duplicate
        // upload id on real S3 — that's what bucket lifecycle rules'
        // AbortIncompleteMultipartUpload exists for; nothing
        // client-side can name an id it never received.)
        if (done.statusCode == 404 && sizeOf(key).contains(Files.size(file)) &&
          samplesMatch(key, file)) ()
        else expect(done, 200)
      } finally in.close()
    }

    /** Head+tail byte-sample identity probe: the object's first and
      * last `sampleLen` bytes must equal the file's. Proves ownership
      * far beyond size equality at O(16 KiB) transfer — the
      * unique-artifact-name contract makes a same-size SAME-SAMPLE
      * foreign object at the key practically impossible. */
    private def samplesMatch(key: String, file: Path, sampleLen: Int = 8192): Boolean = {
      val size = Files.size(file)
      def fileRange(from: Long, len: Int): Array[Byte] = {
        val ch = java.nio.channels.FileChannel.open(file)
        try {
          val bb = java.nio.ByteBuffer.allocate(len)
          ch.position(from)
          while (bb.hasRemaining && ch.read(bb) >= 0) ()
          java.util.Arrays.copyOf(bb.array(), bb.position())
        } finally ch.close()
      }
      def sample(from: Long, len: Int): Boolean =
        rangedGet(key, from, from + len - 1)
          .exists(java.util.Arrays.equals(_, fileRange(from, len)))
      if (size == 0L) true
      else {
        val head = math.min(sampleLen.toLong, size).toInt
        val tailFrom = math.max(0L, size - sampleLen)
        sample(0L, head) && (tailFrom == 0L ||
          sample(tailFrom, (size - tailFrom).toInt))
      }
    }

    /** The `fs.grafts3.<token>.*` conf entries a SEPARATE executor JVM
      * needs to rebuild this client (the registry is driver-local):
      * shipped on the scan's broadcast hadoop conf, exactly how the
      * reference deployment ships `fs.s3a.*` credentials in
      * spark-defaults. */
    private[lake] def confEntriesFor(token: String): Seq[(String, String)] = Seq(
      s"fs.grafts3.$token.endpoint" -> endpoint.toString,
      s"fs.grafts3.$token.bucket" -> bucket,
      s"fs.grafts3.$token.region" -> region,
      s"fs.grafts3.$token.access-key" -> creds.accessKey,
      s"fs.grafts3.$token.secret-key" -> creds.secretKey)

    /** Ranged GET (`bytes=from-to`, inclusive). None on 404; a
      * Range-ignoring 200 is trimmed client-side. */
    def rangedGet(key: String, from: Long, to: Long): Option[Array[Byte]] = {
      val r = sendRetryingAs("GET", key, Nil,
        SigV4.sha256Hex(Array.emptyByteArray),
        () => HttpRequest.BodyPublishers.noBody(),
        Seq("Range" -> s"bytes=$from-$to"),
        HttpResponse.BodyHandlers.ofByteArray())
      if (r.statusCode == 206) Some(r.body())
      else if (r.statusCode == 200) {
        val b = r.body()
        if (from >= b.length) Some(Array.emptyByteArray)
        else Some(java.util.Arrays.copyOfRange(b, from.toInt,
          math.min(to + 1, b.length.toLong).toInt))
      } else None
    }

    /** Object size via a one-byte ranged GET (Content-Range carries
      * the total) — existence/size probing that NEVER buffers a body
      * (the response body is discarded at the HTTP layer, so even a
      * Range-ignoring store streams its 200 straight to /dev/null and
      * the size comes from its Content-Length header). None on 404. */
    def sizeOf(key: String): Option[Long] = {
      val r = sendRetryingAs("GET", key, Nil,
        SigV4.sha256Hex(Array.emptyByteArray),
        () => HttpRequest.BodyPublishers.noBody(),
        Seq("Range" -> "bytes=0-0"),
        HttpResponse.BodyHandlers.discarding())
      def header(n: String): Option[String] = {
        val v = r.headers.firstValue(n)
        if (v.isPresent) Some(v.get) else None
      }
      if (r.statusCode == 404) None
      else if (r.statusCode == 206)
        // "bytes 0-0/TOTAL"; an unknown total ("…/*") falls back to a
        // plain discarded GET whose Content-Length is authoritative
        header("Content-Range")
          .flatMap(cr => "/(\\d+)$".r.findFirstMatchIn(cr).map(_.group(1).toLong))
          .orElse(plainSize(key))
      else if (r.statusCode == 200)
        header("Content-Length").map(_.toLong).orElse(plainSize(key))
      else None
    }

    /** Last-resort size probe: a plain GET with a DISCARDED body,
      * reading Content-Length from the headers. */
    private def plainSize(key: String): Option[Long] = {
      val r = sendRetryingAs("GET", key, Nil,
        SigV4.sha256Hex(Array.emptyByteArray),
        () => HttpRequest.BodyPublishers.noBody(), Nil,
        HttpResponse.BodyHandlers.discarding())
      val v = r.headers.firstValue("Content-Length")
      if (r.statusCode == 200 && v.isPresent) Some(v.get.toLong) else None
    }

    def get(key: String): Option[Array[Byte]] = {
      val r = send("GET", key, Nil, Array.emptyByteArray, Nil)
      if (r.statusCode == 404) None else Some(expect(r, 200).body())
    }

    /** Streamed GET straight to a local file: the body flows through a
      * bounded pipe to a tmp sibling, then one atomic move — a 100 GB
      * data file hydrates without ever sitting on the heap (the
      * download twin of [[putFile]]'s streaming claim), and a torn
      * transfer can never surface as a half-written artifact to a
      * concurrent reader. False on 404. Mid-stream failures after the
      * response line are NOT retried here (the tmp is discarded and
      * the error rethrown — callers re-request); the pre-stream retry
      * loop covers the routine 5xx/connection cases. */
    def getToFile(key: String, dest: Path): Boolean = {
      // own retry loop (not sendRetryingAs): with an ofInputStream
      // handler every superseded 5xx response carries an OPEN stream
      // that the shared loop would leak — one stranded connection per
      // retry would exhaust the HttpClient under hydration fan-out
      var attempt = 0
      while (true) {
        val r =
          try sendOnce("GET", key, Nil, SigV4.sha256Hex(Array.emptyByteArray),
            () => HttpRequest.BodyPublishers.noBody(), Nil,
            HttpResponse.BodyHandlers.ofInputStream())
          catch { case e: IOException =>
            attempt += 1
            if (attempt >= maxAttempts) throw e
            backoff(attempt); null
          }
        if (r != null) r.statusCode match {
          case 500 | 503 =>
            r.body().close()
            attempt += 1
            if (attempt >= maxAttempts) throw new IllegalArgumentException(
              s"S3 GET $key → HTTP ${r.statusCode} after $maxAttempts attempts")
            backoff(attempt)
          case 404 => r.body().close(); return false
          case 200 =>
            // a LARGE artifact (Content-Length is on the response line,
            // no body consumed yet) downloads as k parallel ranged GETs
            // instead of one stream — the download twin of multipart
            // upload: a 5 GiB file's first-touch latency cuts ~k×. The
            // abandoned stream costs at most the OS socket buffer.
            val contentLen = {
              val v = r.headers.firstValue("Content-Length")
              if (v.isPresent) v.get.toLong else -1L
            }
            if (contentLen >= multipartThresholdBytes) {
              r.body().close()
              getToFileRanged(key, dest, contentLen)
              return true
            }
            Files.createDirectories(dest.getParent)
            val tmp = dest.getParent.resolve(
              s".s3pull-${java.util.UUID.randomUUID()}")
            try {
              val in = r.body()
              try Files.copy(in, tmp) finally in.close()
              Files.move(tmp, dest,
                StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
            } finally Files.deleteIfExists(tmp)
            return true
          case other =>
            r.body().close()
            throw new IllegalArgumentException(s"S3 GET $key → HTTP $other")
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** Parallel ranged download: `size` bytes of `key` fetched as
      * partSize-wide ranges, up to `partConcurrency` in flight on the
      * dedicated range pool (never this caller's pool — the
      * subtask-of-same-bounded-pool deadlock), each written at its
      * offset through one shared channel (FileChannel positioned
      * writes are thread-safe), then ONE atomic move — torn transfers
      * can never surface, exactly the [[getToFile]] contract. Peak
      * heap = partConcurrency × partSize (tracked). Rotating-queue
      * bounded in-flight like [[uploadParts]]; a failed range aborts
      * the download after draining its siblings. */
    private def getToFileRanged(key: String, dest: Path, size: Long): Unit = {
      Files.createDirectories(dest.getParent)
      val tmp = dest.getParent.resolve(s".s3pull-${java.util.UUID.randomUUID()}")
      try {
        // The FIRST range is a STREAMING probe: HTTP permits a server
        // (or a proxy in front of one) to ignore Range and answer 200
        // with the whole body. rangedGet would buffer that body on the
        // heap — and this path only runs for objects at or above the
        // multipart threshold, so k concurrent ranges against such a
        // store would mean k whole-object byte arrays. Detecting the
        // 200 on the probe instead degrades to ONE disk-streamed copy
        // (the getToFile shape) before any parallel range is issued;
        // a 206 streams its ≤partSize body to the channel and the
        // remaining ranges proceed k-wide as before.
        var attempt = 0
        var probe: HttpResponse[java.io.InputStream] = null
        val firstTo = math.min(partSizeBytes.toLong, size) - 1
        while (probe == null) {
          val r =
            try sendOnce("GET", key, Nil, SigV4.sha256Hex(Array.emptyByteArray),
              () => HttpRequest.BodyPublishers.noBody(),
              Seq("Range" -> s"bytes=0-$firstTo"),
              HttpResponse.BodyHandlers.ofInputStream())
            catch { case e: IOException =>
              attempt += 1
              if (attempt >= maxAttempts) throw e
              backoff(attempt); null
            }
          if (r != null) r.statusCode match {
            case 500 | 503 =>
              r.body().close()
              attempt += 1
              if (attempt >= maxAttempts) throw new IllegalArgumentException(
                s"S3 GET $key → HTTP ${r.statusCode} after $maxAttempts attempts")
              backoff(attempt)
            case 404 =>
              r.body().close()
              throw new java.nio.file.NoSuchFileException(
                s"object vanished mid-ranged-download: $key")
            case 200 | 206 => probe = r
            case other =>
              r.body().close()
              throw new IllegalArgumentException(s"S3 GET $key → HTTP $other")
          }
        }
        if (probe.statusCode == 200) {
          // Range-ignoring store: the probe already streams the WHOLE
          // object — one bounded-buffer copy to disk, no ranged fan-out
          val in = probe.body()
          try Files.copy(in, tmp) finally in.close()
          Files.move(tmp, dest,
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          return
        }
        val ch = java.nio.channels.FileChannel.open(tmp,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        val probeBody = probe.body()
        try {
          val pending = scala.collection.mutable.Queue
            .empty[java.util.concurrent.Future[_]]
          var inFlight = 0
          // abort protocol, download edition (the uploadParts pattern):
          // a failed range flips the flag so queued-but-unstarted
          // siblings bail before issuing their GET + retry ladder, and
          // the failure path drains every future to real termination
          // before the tmp is deleted under them
          val downloadAborted = new java.util.concurrent.atomic.AtomicBoolean(false)
          def drainOne(): Unit = {
            val f = pending.dequeue()
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException =>
              throw e.getCause }
            inFlight -= 1
          }
          try {
            // the probe's 206 body drains on the range pool as the
            // FIRST sibling: its bytes overlap the ranged fan-out (the
            // probe-as-serial-prefix would add one part of dead time to
            // every large download) AND the connection is consumed
            // promptly — a real store reaps slow readers, so leaving
            // the probe unread for the whole transfer risks a reset
            // that discards every transferred sibling byte
            pending.enqueue(rangePool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = {
                val buf = new Array[Byte](64 * 1024)
                var off = 0L
                try {
                  var r = probeBody.read(buf)
                  while (r >= 0) {
                    if (downloadAborted.get) throw new java.util.concurrent
                      .CancellationException(s"download of $key aborted")
                    val bb = java.nio.ByteBuffer.wrap(buf, 0, r)
                    while (bb.hasRemaining) off += ch.write(bb, off)
                    r = probeBody.read(buf)
                  }
                } catch { case _: IOException => () }
                // a reset or short read on the probe body must not fail
                // the whole transfer while every sibling range enjoys
                // its full retry ladder: the missing tail re-fetches as
                // one retried ranged GET, exactly like any sibling
                if (off <= firstTo) {
                  if (downloadAborted.get) throw new java.util.concurrent
                    .CancellationException(s"download of $key aborted")
                  val bytes = rangedGet(key, off, firstTo).getOrElse(
                    throw new java.nio.file.NoSuchFileException(
                      s"object vanished mid-ranged-download: $key"))
                  require(bytes.length == (firstTo - off + 1).toInt,
                    s"short probe tail [$off,$firstTo] of $key: got ${bytes.length}")
                  val bb = java.nio.ByteBuffer.wrap(bytes)
                  while (bb.hasRemaining) off += ch.write(bb, off)
                }
              }
            }))
            inFlight += 1
            var from = firstTo + 1
            var n = 0
            while (from < size) {
              if (inFlight >= partConcurrency) drainOne()
              val to = math.min(from + partSizeBytes - 1, size - 1)
              val (f0, t0) = (from, to)
              n += 1
              track(math.min(n, partConcurrency).toLong * partSizeBytes)
              pending.enqueue(rangePool.submit(new java.util.concurrent.Callable[Unit] {
                def call(): Unit = {
                  if (downloadAborted.get) throw new java.util.concurrent
                    .CancellationException(s"download of $key aborted")
                  val bytes = rangedGet(key, f0, t0).getOrElse(
                    throw new java.nio.file.NoSuchFileException(
                      s"object vanished mid-ranged-download: $key"))
                  require(bytes.length == (t0 - f0 + 1).toInt,
                    s"short range [$f0,$t0] of $key: got ${bytes.length}")
                  val bb = java.nio.ByteBuffer.wrap(bytes)
                  var off = f0
                  while (bb.hasRemaining) off += ch.write(bb, off)
                }
              }))
              inFlight += 1
              from = to + 1
            }
            while (pending.nonEmpty) drainOne()
          } catch { case t: Throwable =>
            downloadAborted.set(true)
            pending.foreach(f => try f.get() catch { case _: Throwable => () })
            throw t
          }
        } finally {
          try probeBody.close() catch { case _: Throwable => () }
          ch.close()
        }
        Files.move(tmp, dest,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp)
    }

    def delete(key: String): Unit =
      expect(send("DELETE", key, Nil, Array.emptyByteArray, Nil), 204, 200)

    /** ListObjectsV2 (paged). Minimal XML extraction — keys are
      * uuid/slot names graft writes itself, never XML-escaped text.
      * `startAfter` maps to the public `start-after` parameter (first
      * request only — continuation paging supersedes it, per the S3
      * API): keys lexicographically ≤ it are never returned, which is
      * what makes an idle [[GraftS3.syncRemote]] poll cost ONE empty
      * page regardless of how many retained log objects exist. */
    def list(prefix: String, startAfter: Option[String] = None): Seq[String] =
      listWithSizes(prefix, startAfter).map(_._1)

    /** ListObjectsV2 WITH the per-key `<Size>` each `<Contents>` block
      * already ships — callers that need sizes (a generic-FS
      * listStatus, a size-cache pre-warm) read them off the one list
      * page instead of issuing one probe per key: listing a 10k-file
      * prefix costs the page walk, never 10k extra GETs. A store
      * omitting Size (not spec-compliant, but cheap to tolerate)
      * yields -1 for that key. */
    def listWithSizes(prefix: String,
        startAfter: Option[String] = None,
        stopAfter: Option[String] = None): Seq[(String, Long)] =
      listWithMeta(prefix, startAfter, stopAfter).map(e => (e._1, e._2))

    /** ListObjectsV2 with per-key `<Size>` AND `<LastModified>` (epoch
      * ms) — both ship in every `<Contents>` block on real S3. The
      * mtime is the remote orphan sweep's age signal: a store omitting
      * it yields -1 and the sweep conservatively retains that key
      * (never "assume old"). */
    def listWithMeta(prefix: String,
        startAfter: Option[String] = None,
        stopAfter: Option[String] = None): Seq[(String, Long, Long)] = {
      val keys = Seq.newBuilder[(String, Long, Long)]
      var token: Option[String] = None
      var more = true
      var first = true
      val contentsRe = "(?s)<Contents>(.*?)</Contents>".r
      val keyRe = "<Key>([^<]*)</Key>".r
      val sizeRe = "<Size>(\\d+)</Size>".r
      val lmRe = "<LastModified>([^<]*)</LastModified>".r
      while (more) {
        val q = Seq("list-type" -> "2", "prefix" -> prefix) ++
          token.map("continuation-token" -> _) ++
          (if (first) startAfter.map("start-after" -> _) else Nil)
        first = false
        val xml = new String(
          expect(send("GET", "", q, Array.emptyByteArray, Nil), 200).body(), UTF_8)
        var pastStop = false
        contentsRe.findAllMatchIn(xml).foreach { c =>
          keyRe.findFirstMatchIn(c.group(1)).foreach { k =>
            val mtime = lmRe.findFirstMatchIn(c.group(1)).flatMap(m =>
              try Some(java.time.Instant.parse(m.group(1)).toEpochMilli)
              catch { case _: java.time.format.DateTimeParseException => None })
              .getOrElse(-1L)
            keys += ((k.group(1), sizeRe.findFirstMatchIn(c.group(1))
              .map(_.group(1).toLong).getOrElse(-1L), mtime))
            // `stopAfter`: a caller confirming a KNOWN key range stops
            // paging once the listing passes its largest key — page
            // cost scales with the range, not the whole prefix
            if (stopAfter.exists(k.group(1) >= _)) pastStop = true
          }
        }
        token = "<NextContinuationToken>([^<]*)</NextContinuationToken>".r
          .findFirstMatchIn(xml).map(_.group(1))
        more = token.isDefined && !pastStop
      }
      keys.result()
    }
  }

  // ── parallel mirror plumbing ────────────────────────────────────────
  // A commit placing N artifacts must have them DURABLY remote before
  // its slot's conditional PUT (a crashed winner's slot must never
  // reference missing remote artifacts), but nothing orders the
  // uploads among THEMSELVES — serializing them on the committing
  // thread makes commit latency the SUM of N uploads. Placements
  // therefore enqueue onto a bounded daemon pool and the ARBITER
  // awaits them before arbitrating any slot: commit latency becomes
  // the MAX upload, the durability ordering is untouched.
  //
  // Pending uploads are keyed by the artifact's FINAL LOCAL PATH and
  // the barrier awaits exactly the paths the commit's own JSON
  // references. Neither a thread-local nor a shared-queue barrier is
  // correct here: compaction places its artifacts from WORKER-POOL
  // threads (rewriteDataFiles runs one write job per bin), so the
  // committing thread's locals miss them, and a shared queue lets a
  // concurrent committer steal this committer's futures. Keying by
  // path makes the barrier thread-agnostic AND failure-precise: the
  // commit that references a failed upload is the commit that aborts.
  // min-2 threads: a 1-vCPU box must still overlap uploads.
  private lazy val mirrorPool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(2, math.min(8, Runtime.getRuntime.availableProcessors())),
    (r: Runnable) => {
      val t = new Thread(r, "graft-s3-mirror"); t.setDaemon(true); t
    })

  // Part-level PUTs run on their OWN pool, never on mirrorPool: putFile
  // executes on mirrorPool threads, and a bounded pool whose every
  // thread holds a file-level task waiting on part-level subtasks of
  // the same pool deadlocks permanently.
  private lazy val partPool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(2, math.min(8, Runtime.getRuntime.availableProcessors())),
    (r: Runnable) => {
      val t = new Thread(r, "graft-s3-part"); t.setDaemon(true); t
    })

  // Range-level GETs of one large download run on their OWN pool for
  // the same reason part-level PUTs do: getToFile executes on hydPool
  // threads, and submitting range subtasks to the same bounded pool
  // deadlocks once every thread holds a file-level task.
  private lazy val rangePool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(2, math.min(8, Runtime.getRuntime.availableProcessors())),
    (r: Runnable) => {
      val t = new Thread(r, "graft-s3-range"); t.setDaemon(true); t
    })

  /** Sizing knob for the DOWNLOAD pool (conf surface:
    * `s3.hydration-concurrency`, documented next to
    * `s3.part-concurrency` in GraftSparkCatalog). RESIZES a live pool:
    * unlike the per-Client part knobs, the download pool is
    * JVM-global, and a catalog mounted after the first hydration must
    * still get its configured width — the setter adjusts core/max on
    * the existing executor instead of being silently ignored. */
  private[graft] def hydrationConcurrency: Int = hydConcurrency
  private[graft] def hydrationConcurrency_=(n: Int): Unit = {
    hydConcurrency = math.max(2, n)
    hydPoolRef.get() match {
      case null => ()
      case pool => resizePool(pool, hydConcurrency)
    }
  }

  /** Resize a live fixed-size pool — ONE copy for every knob (the
    * hydration and vectored pools share it): grow max first / shrink
    * core first (the inverse order throws), serialized per pool so two
    * concurrent knob writes can't interleave into core > max. */
  private[graft] def resizePool(
      pool: java.util.concurrent.ThreadPoolExecutor, n: Int): Unit =
    pool.synchronized {
      if (n >= pool.getMaximumPoolSize) {
        pool.setMaximumPoolSize(n)
        pool.setCorePoolSize(n)
      } else {
        pool.setCorePoolSize(n)
        pool.setMaximumPoolSize(n)
      }
    }
  @volatile private var hydConcurrency: Int = 8
  private val hydPoolRef =
    new java.util.concurrent.atomic.AtomicReference[java.util.concurrent.ThreadPoolExecutor]()

  // Downloads (scan-time hydration, DR artifact pulls) run on their
  // OWN pool, never on mirrorPool: a process that is both WRITER and
  // FOLLOWER (the catalog-branch fleet shape) would otherwise have
  // commits' pre-slot uploads queueing behind scans' hydrations — a
  // 1000-file hydration serialized 8-wide would delay every concurrent
  // commit's barrier by the full transfer time. Separate pools make
  // upload latency independent of download load (and vice versa).
  private def hydPool: java.util.concurrent.ThreadPoolExecutor = {
    val cur = hydPoolRef.get()
    if (cur != null) cur
    else {
      val fresh = new java.util.concurrent.ThreadPoolExecutor(
        math.max(2, hydConcurrency), math.max(2, hydConcurrency),
        60L, java.util.concurrent.TimeUnit.SECONDS,
        new java.util.concurrent.LinkedBlockingQueue[Runnable](),
        (r: Runnable) => {
          val t = new Thread(r, "graft-s3-hyd"); t.setDaemon(true); t
        })
      if (hydPoolRef.compareAndSet(null, fresh)) {
        // a setter racing this creation saw null and resized nothing:
        // re-apply the knob now that the pool is visible
        hydrationConcurrency = hydConcurrency
        fresh
      } else { fresh.shutdown(); hydPoolRef.get() }
    }
  }
  private val pendingUploads =
    new java.util.concurrent.ConcurrentHashMap[Path, java.util.concurrent.Future[_]]()

  /** Spec observability: outstanding mirror uploads under `root`. */
  private[graft] def pendingUploadsUnder(root: Path): Int = {
    var n = 0
    pendingUploads.forEach((p, _) => if (p.startsWith(root)) n += 1)
    n
  }

  /** Spec observability: in-flight on-demand hydrations under `root`. */
  private[graft] def pendingHydrationsUnder(root: Path): Int = {
    var n = 0
    pendingHydrations.forEach((p, _) => if (p.startsWith(root)) n += 1)
    n
  }

  /** Rethrow an upload failure LOUDLY as IllegalArgumentException —
    * deliberately NOT IllegalStateException, which the slot-race retry
    * loops catch and would misread as a lost commit race. */
  private def await(f: java.util.concurrent.Future[_]): Unit =
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException =>
      throw new IllegalArgumentException(
        s"artifact mirror upload failed: ${e.getCause}", e.getCause)
    }

  /** The pre-slot barrier: await the uploads of exactly the artifacts
    * `content` references. Commit slots live at
    * `<tableRoot>/_graft_log/<slot>.json` and reference their files by
    * table-root-relative path; non-commit payloads (decision files)
    * parse as no-adds and await nothing. Re-arbitrations of the same
    * content (slot slides, retries) find the map entries already
    * consumed and skip — the uploads were awaited the first time. */
  private def awaitReferenced(target: Path, content: String): Unit = {
    val adds =
      // NonFatal: a non-commit payload (decision file) parses as
      // no-adds; a VM error must never be downgraded to that
      try GraftTable.parseCommit(content).adds
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    if (adds.nonEmpty) {
      val tableRoot = target.getParent.getParent
      adds.foreach { a =>
        val f = pendingUploads.remove(tableRoot.resolve(a.path))
        if (f != null) await(f)
      }
    }
  }

  /** Unmount-time drain, scoped to the closing mount's OWN subtree
    * (component-wise startsWith — the registry-mount discipline). With
    * parallel mounts, an unscoped drain would STEAL a concurrent
    * mount's in-flight entries mid-commit: that committer's
    * awaitReferenced then finds its path already consumed and
    * arbitrates its slot while the upload is still in flight — the
    * same cross-suite steal class the shared-queue barrier had, and
    * worse, a failure of the stolen upload would surface in the WRONG
    * mount's close while the victim's commit lands referencing a
    * never-mirrored artifact. Foreign entries are never drained here;
    * abandoned ones are consumed by the crash cleanup
    * ([[discardOn]]) instead. NESTED mounts narrow the scope
    * further: a warehouse mount closing over a still-open table mount
    * must not consume the table's entries (subtree containment alone
    * would — the same theft one level down), so an entry drains only
    * when the closing mount IS its longest-match owner in the still-
    * registered set (the closer stays registered until after this
    * drain). Drains everything in scope even on failure — a stuck
    * poisoned entry must not fail every later unmount in the JVM —
    * then rethrows the first error. */
  private def flushAll(m: Mount): Unit = {
    var firstErr: Throwable = null
    val it = pendingUploads.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(m.root) &&
          ownerOfTarget(mirMounts, e.getKey).contains(m)) {
        it.remove()
        try e.getValue.get()
        catch { case ex: java.util.concurrent.ExecutionException =>
          if (firstErr == null) firstErr = ex.getCause }
      }
    }
    if (firstErr != null) throw new IllegalArgumentException(
      s"artifact mirror upload failed: $firstErr", firstErr)
  }

  // ── mount registries ────────────────────────────────────────────────
  // Every mount binds one LakeStore on its root (LakeStore.bind: the
  // registry resolves each path to its longest-root store and hands the
  // rest down). The per-shape lists below answer the cross-shape
  // questions a store asks: is this root also arbitrated, budgeted,
  // owned by a deeper mirror?
  /** `token`: the grafts3 authority of a DIRECT-WRITE mirror
    * (mountArtifactMirror(directWrite = true)) — staged parquet writes
    * under `root` target the store through it and publish by
    * server-side copy. */
  private final case class Mount(root: Path, prefix: String, client: Client,
      token: Option[String] = None)

  /** A hydration mount additionally carries the local-cache budget and
    * its LRU bookkeeping: `touched` maps mount-relative artifact path →
    * local bytes in ACCESS order (a plain LinkedHashMap guarded by the
    * mount's own monitor — eviction decisions are rare and driver-side),
    * `trackedBytes` is the running total so budget checks are O(1),
    * not O(touched files). Only files that passed through the hydrate
    * plane are tracked — exactly the set a budgeted follower
    * accumulates. */
  private final class HydMount(val root: Path, val prefix: String,
      val client: Client, val maxLocalBytes: Option[Long],
      /** (grafts3 authority token, unregister) when this mount serves
        * data files IN PLACE over ranged reads instead of hydrating. */
      val ranged: Option[(String, AutoCloseable)]) {
    val touched = new java.util.LinkedHashMap[String, java.lang.Long](16, 0.75f, true)
    var trackedBytes = 0L
    // cache-plane ledger (the hydration/eviction twin of the ranged
    // scan's DSv2 metrics): what the mount pulled, dropped, and served
    // locally — AtomicLongs because hydrations complete on pool
    // threads while sweeps run on committing/scanning threads
    val bytesHydrated = new AtomicLong(0)
    val filesHydrated = new AtomicLong(0)
    val bytesEvicted = new AtomicLong(0)
    val filesEvicted = new AtomicLong(0)
    /** Planned rels a hydrate batch found already local (cache hits)
      * vs pulled (misses) — the mount's hit-rate numerator/denominator. */
    val hydrateHits = new AtomicLong(0)
    val hydrateMisses = new AtomicLong(0)
    /** rel → (nanoTime, planning thread id) of the most recent hydrate
      * batch that PLANNED the file — the grace ledger: a COMMIT-
      * boundary sweep (trackMirrored fires with current = ∅) skips
      * files another thread's scan planned within [[evictionGraceMs]],
      * because hydration fires at PLAN time and the scan's tasks read
      * the local paths afterwards — evicting between the two fails
      * that scan (loudly, never wrong results, but needlessly). The
      * committing thread's OWN planned set stays evictable: a CoW
      * delete reads generation N on the thread that then commits
      * generation N+1, and its sweep MUST evict the retired victims.
      * Guarded by the `touched` monitor; stale entries prune as sweeps
      * visit them. */
    val planned = new java.util.HashMap[String, (Long, Long)]()
    def touch(rel: String, bytes: Long): Unit = {
      val prev = touched.put(rel, bytes)
      trackedBytes += bytes - (if (prev == null) 0L else prev.longValue)
    }
  }

  /** How long a commit-boundary sweep spares files a CONCURRENT
    * thread's scan just planned (ms). Deferral only — the next sweep
    * past the window evicts them; 0 disables (conf surface:
    * `s3.eviction-grace-ms`). */
  @volatile private[graft] var evictionGraceMs: Long = 30000L

  /** One budgeted mount's cache-plane ledger, surfaced for operators
    * and exact-count specs: local bytes currently tracked against the
    * budget, bytes/files pulled by on-demand hydration, bytes/files
    * the budget sweep evicted, and the hydrate batches' local-hit
    * split. None when no hydration mount owns `root`. */
  final case class CacheStats(trackedBytes: Long, maxLocalBytes: Option[Long],
      bytesHydrated: Long, filesHydrated: Long,
      bytesEvicted: Long, filesEvicted: Long,
      hydrateHits: Long, hydrateMisses: Long)

  def cacheStats(root: Path): Option[CacheStats] =
    ownerOf(hydMounts, root.toAbsolutePath.normalize)(_.root).map { m =>
      val tracked = m.touched.synchronized(m.trackedBytes)
      CacheStats(tracked, m.maxLocalBytes,
        m.bytesHydrated.get, m.filesHydrated.get,
        m.bytesEvicted.get, m.filesEvicted.get,
        m.hydrateHits.get, m.hydrateMisses.get)
    }
  private val arbMounts = new java.util.concurrent.CopyOnWriteArrayList[Mount]()
  private val mirMounts = new java.util.concurrent.CopyOnWriteArrayList[Mount]()
  private val hydMounts = new java.util.concurrent.CopyOnWriteArrayList[HydMount]()

  /** Register `m` in its shape's list and bind `store` on `root`; the
    * handle unbinds, then unregisters. */
  private def mounted[M](registry: java.util.concurrent.CopyOnWriteArrayList[M],
      m: M, root: Path)(store: LakeStore => LakeStore): AutoCloseable = {
    registry.add(m)
    val binding = LakeStore.bind(root)(store)
    () => { binding.close(); registry.remove(m) }
  }

  /** Longest-match owner over any mount-shaped registry. `>=` on the
    * tie: an equal-root REMOUNT (e.g. after credential rotation) must
    * win over its predecessor, and registries append, so the newest
    * equal-root entry is the last one the loop visits. */
  private def ownerOf[T <: AnyRef](
      mounts: java.util.concurrent.CopyOnWriteArrayList[T], target: Path)(
      rootOf: T => Path): Option[T] = {
    var best: T = null.asInstanceOf[T]
    mounts.forEach { m =>
      if (target.startsWith(rootOf(m)) &&
        (best == null || rootOf(m).getNameCount >= rootOf(best).getNameCount))
        best = m
    }
    Option(best)
  }

  private def ownerOfTarget(mounts: java.util.concurrent.CopyOnWriteArrayList[Mount],
      target: Path): Option[Mount] = ownerOf(mounts, target)(_.root)

  private def arbitrateOn(m: Mount, target: Path, content: String): Unit = {
    awaitReferenced(target, content)   // referenced artifacts durably remote FIRST
    val won = m.client.putIfAbsent(keyFor(m.root, target, m.prefix),
      content.getBytes(UTF_8))
    // bounded-disk WRITER: the moment a commit WINS its slot, every
    // artifact it references is durably remote (the barrier above)
    // and consumed from the pending-upload map — the local copies
    // become CACHE, not the only copy, and a budgeted mount may
    // evict them. BEST-EFFORT by construction: the slot is already
    // durably won, so an eviction hiccup (a transient size-probe
    // failure, a concurrent evictLocalData racing a delete) must
    // never surface as a commit failure — the caller would retry
    // onto slot N+1 and replay a commit that already exists. The
    // next commit's (or scan's) sweep re-enforces the budget.
    if (won) {
      try trackMirrored(target, content)
      catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
        case scala.util.control.NonFatal(_) => ()
      }
    }
  }

  /** The WRITE twin of the follower cache budget (the reference writes
    * `warehouse=s3a://…` with no node holding a local lake copy —
    * spark-defaults.conf:10, docker-compose.yml): a writer mounting
    * arbiter + mirror + a BUDGETED hydration mount on one root gets
    * bounded local disk. Called for each commit that WON its slot —
    * its adds are by then durably remote AND their pending-upload
    * entries consumed, which is exactly the eviction-safety line (an
    * artifact mid-upload, or uploaded but referenced by a commit still
    * arbitrating, never reaches here). The adds land in the owning
    * mount's LRU as most-recent and the shared sweep evicts
    * least-recently-touched confirmed-remote artifacts until local
    * bytes fit — so a 100 TB ingest needs the working set's disk, not
    * the lake's. Reads re-serve evicted artifacts through the SAME
    * mount's on-demand hydration (or in-place ranged) plane, and
    * pruneRemote already refuses roots under a hydration mount, so
    * "locally absent" can never be misread as "retired". Budget is
    * enforced at COMMIT boundaries: one in-flight op's write set may
    * transiently overshoot (the cost of mirror-then-evict; streaming
    * task output straight to the store would trade that for losing
    * local-read locality on the hot working set). */
  private def trackMirrored(target: Path, content: String): Unit = {
    val commit =
      // NonFatal, like the call site and the sweep: an OOM mid-parse
      // must not silently become "no adds tracked"
      try Some(GraftTable.parseCommit(content))
      catch { case scala.util.control.NonFatal(_) => None }
    // removes-only commits (metadata-only partition DELETE, eq-delete
    // routing) sweep too: their victims just became evictable
    commit.filter(c => c.adds.nonEmpty || c.removes.nonEmpty).foreach { c =>
      val tableRoot = target.toAbsolutePath.normalize.getParent.getParent
      ownerOf(hydMounts, tableRoot)(_.root).filter(_.maxLocalBytes.isDefined)
        .foreach { m =>
          m.touched.synchronized {
            c.adds.foreach { a =>
              val local = tableRoot.resolve(a.path)
              localSizeOpt(local).foreach(m.touch(keyFor(m.root, local, ""), _))
            }
          }
          // the commit's own RETIRED rels are NEVER grace-spared: a
          // CoW/compaction commit must evict its victims at its own
          // boundary even when Spark planned the reading scan off the
          // committing thread (AQE materializes query stages on pool
          // threads) — the planning-thread heuristic alone would spare
          // them for the whole grace window and transiently break the
          // budget-fits-at-every-boundary contract q113 pins
          val retired = c.removes
            .map(r => keyFor(m.root, tableRoot.resolve(r), "")).toSet
          sweepBudget(m, Set.empty, commitSweep = true, retired = retired)
        }
    }
  }

  private def placeOn(m: Mount, below: LakeStore, src: Path, dst: Path): Unit = {
    // the local placement first: the upload streams from the final
    // immutable path (src is consumed by the move)
    below.place(src, dst)
    // nested mirrors: the innermost one uploads; an outer mirror is
    // reached here only as the inner one's `below`
    if (ownerOfTarget(mirMounts, dst).contains(m)) {
      // WITHOUT a commit arbiter on this root there is no pre-slot
      // barrier to await the upload — fall back to the synchronous
      // mirror (the upload is durably remote before the placement
      // returns, hence before the local commit slot ever writes)
      if (ownerOfTarget(arbMounts, dst).isEmpty)
        m.client.putFile(keyFor(m.root, dst, m.prefix), dst)
      else {
        pendingUploads.put(dst, mirrorPool.submit(new Runnable {
          def run(): Unit = m.client.putFile(keyFor(m.root, dst, m.prefix), dst)
        }))
        enforcePlacementBudget(dst)
      }
    }
  }

  /** Intra-op budget BACKPRESSURE for the mirror-then-evict writer:
    * without it, ONE op whose write set exceeds the budget transiently
    * overshoots until its commit boundary (the documented residual).
    * After registering each placement's upload, the PLACING thread
    * waits for earlier siblings' uploads and evicts their local copies
    * (remote size confirmed first — never the only copy) until
    * tracked + placed-but-uncommitted bytes fit the budget or only the
    * just-placed file remains — so the placed set stays under
    * budget + one file by construction (per placing thread; compaction
    * places from k worker threads, so its bound is budget + k files).
    * Eviction KEEPS the pendingUploads entry: the commit barrier's
    * await of a completed future is a no-op, and a lost race's discard
    * still finds the entry to delete the remote twin — the commit
    * protocol is untouched. The op's local STAGE dir is out of scope
    * by design (it is the op's scratch, the mirror path's floor;
    * direct-write staging removes it entirely). A failed or
    * unconfirmable sibling is left in place — the barrier will
    * surface upload failures loudly at commit. */
  private def enforcePlacementBudget(justPlaced: Path): Unit =
    ownerOf(hydMounts, justPlaced)(_.root).foreach { m =>
      m.maxLocalBytes.foreach { budget =>
        var progress = true
        var aborted = false
        while (progress && !aborted) {
          progress = false
          var pendingLocal = 0L
          val siblings = Seq.newBuilder[(Path, java.util.concurrent.Future[_], Long)]
          pendingUploads.forEach { (p, f) =>
            if (p.startsWith(m.root)) localSizeOpt(p).foreach { sz =>
              pendingLocal += sz
              if (p != justPlaced) siblings += ((p, f, sz))
            }
          }
          val tracked = m.touched.synchronized(m.trackedBytes)
          var need = tracked + pendingLocal - budget
          if (need > 0) {
            // wait the siblings' uploads out (the barrier would at
            // commit anyway) and evict on the upload's OWN success:
            // putFile returned means the PUT/complete was expect(200)'d
            // milliseconds ago — that is the uploader's own durability
            // proof, stronger than a fresh probe, so the intra-op path
            // costs ZERO extra confirmation requests per file (the
            // sweep still probes: ITS candidates may be arbitrarily
            // old). A failed sibling upload keeps its local copy and
            // the commit barrier surfaces the failure loudly.
            val it = siblings.result().iterator
            while (need > 0 && it.hasNext && !aborted) {
              val (p, f, sz) = it.next()
              // NonFatal + interrupt-restore (the eviction discipline):
              // a cancelled job must not stall blocked on sibling
              // uploads — restore the flag and abandon the (best-
              // effort) backpressure; VM errors propagate
              val uploaded =
                try { f.get(); true }
                catch {
                  case _: InterruptedException =>
                    Thread.currentThread().interrupt(); aborted = true; false
                  case scala.util.control.NonFatal(_) => false
                }
              if (uploaded) {
                if (Files.deleteIfExists(p)) {
                  m.bytesEvicted.addAndGet(sz)
                  m.filesEvicted.incrementAndGet()
                }
                need -= sz
                progress = true
              }
            }
          }
        }
      }
    }

  /** Crash-cleanup twin of the pre-slot barrier: when GraftTable
    * deletes a placed-but-never-committed artifact (lost-race cleanup,
    * orphan sweep), consume its pending-upload entry HERE instead of
    * letting it linger until unmount — a long-lived mounted driver
    * must not accumulate one dead entry per failed op. The upload is
    * awaited (its outcome is moot either way: the artifact is
    * unreferenced garbage now) and the remote twin is deleted
    * best-effort, closing the orphan-object window pruneRemote would
    * otherwise catch only at maintenance time. */
  private def discardOn(m: Mount, p: Path): Unit = {
    val f = pendingUploads.remove(p)
    if (f != null) try f.get() catch { case _: Throwable => () }
    // a direct-write artifact has no local copy and no pending-upload
    // entry — the lost-race cleanup's only trace is the remote object,
    // so close the orphan window here too (pruneRemote remains the
    // maintenance-time catch)
    if (f != null || m.token.isDefined)
      try m.client.delete(keyFor(m.root, p, m.prefix))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  // ── direct-write staging ────────────────────────────────────────────
  private def stageOn(m: Mount, token: String, tableRoot: Path): Option[LakeStore.RemoteStage] = {
    // CTAS/RTAS stage their whole TABLE under `<warehouse>/.staging/
    // <uuid>` and publish by a local directory move — remote stage
    // keys minted from the pre-publish root would go stale at that
    // move, so those roots keep the local staging + mirror path (the
    // move's placements re-key correctly through the mirror). The
    // check is scoped BELOW the mount root: a warehouse that itself
    // lives under some ancestor dir named `.staging` must not silently
    // lose direct-write for every table.
    val rel = m.root.relativize(tableRoot)
    if ((0 until rel.getNameCount).exists(i => rel.getName(i).toString == ".staging")) None
    else Some(new LakeStore.RemoteStage {
      private def join(a: String, b: String): String =
        if (a.isEmpty || a.endsWith("/")) a + b else a + "/" + b
      private val tableKey = keyFor(m.root, tableRoot, m.prefix)
      private def keyOf(uri: String): String =
        uri.stripPrefix(s"grafts3://$token/")
      def newStageUri(): String =
        s"grafts3://$token/${join(tableKey,
          s".stage-${java.util.UUID.randomUUID()}")}"
      def conf: Seq[(String, String)] =
        GraftRangedFs.confKey +: m.client.confEntriesFor(token) ++: Seq(
          // v2 commit: tasks merge straight into the job output dir —
          // one server-side copy per artifact instead of two (task
          // commit + job commit); v2's weaker failure atomicity is
          // moot here because the stage is op-private and any
          // failure discards it wholesale
          "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
          // the stage is harvested by listing, not by marker
          "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")
      def listStage(uri: String): Seq[(String, Long)] = {
        val p = keyOf(uri) + "/"
        m.client.listWithSizes(p).map { case (k, sz) =>
          (k.stripPrefix(p),
            if (sz >= 0) sz else m.client.sizeOf(k).getOrElse(0L))
        }
      }
      def stagedUri(uri: String, rel: String): String = s"$uri/$rel"
      def finalizeTo(uri: String, rel: String, tableRel: String): Unit = {
        val src = join(keyOf(uri), rel)
        m.client.copyObject(src, join(tableKey, tableRel))
        m.client.delete(src)
      }
      def dropStaged(uri: String, rel: String): Unit =
        m.client.delete(join(keyOf(uri), rel))
      def discard(uri: String): Unit =
        m.client.list(keyOf(uri) + "/").foreach(m.client.delete)
    })
  }

  private def checkpointOn(m: Mount, dir: Path): Unit = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(f => m.client.putFile(keyFor(m.root, f, m.prefix), f))
    finally s.close()
  }

  /** In-flight hydrations keyed by FINAL LOCAL PATH — the download
    * twin of [[pendingUploads]]: two concurrent scans (or a scan
    * racing a CDC replan) that both plan the same missing 100 GB
    * artifact must share ONE transfer, not double it. Entries remove
    * on completion; a latecomer that misses both the entry and the
    * not-yet-visible file re-checks existence inside the task. */
  private val pendingHydrations =
    new java.util.concurrent.ConcurrentHashMap[Path, java.util.concurrent.Future[_]]()

  /** The demand-fill data plane: a planned read's pruned file list
    * arrives here (LakeStore.hydrate) and exactly the locally
    * MISSING files pull from the store — in parallel, streamed to
    * disk, atomically materialized. The pre-slot barrier is what makes
    * this safe with a metadata-only sync: a commit slot is visible
    * remotely ONLY after every artifact it references is durably
    * remote, so any file a synced commit names is guaranteed
    * fetchable; a 404 therefore means a genuinely pruned/foreign
    * object and fails the read loudly rather than serving a torn
    * table. */
  private def hydrateOn(m: HydMount, tableRoot: Path, rels: Seq[String]): Unit = {
    val wanted = rels.distinct
    val missing = wanted.filter(r => !Files.exists(tableRoot.resolve(r)))
    m.hydrateHits.addAndGet((wanted.size - missing.size).toLong)
    m.hydrateMisses.addAndGet(missing.size.toLong)
    if (missing.nonEmpty) {
      val futs = missing.map { r =>
        val local = tableRoot.resolve(r)
        val key = keyFor(m.root, local, m.prefix)
        val f = pendingHydrations.computeIfAbsent(local,
          _ => hydPool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit =
              if (!Files.exists(local)) {
                if (!m.client.getToFile(key, local))
                  throw new java.nio.file.NoSuchFileException(
                    s"on-demand hydration: $key is referenced by a synced commit " +
                      "but missing remotely (pruned or foreign object)")
                // ledger INSIDE the transfer task: two scans sharing
                // one pendingHydrations future count the pull once
                m.filesHydrated.incrementAndGet()
                localSizeOpt(local).foreach(m.bytesHydrated.addAndGet)
              }
          }))
        (local, f)
      }
      // await EVERY future (collect the first error, rethrow after
      // the loop): throwing at the first failed sibling would leave
      // the rest stranded in the map as COMPLETED futures — a later
      // evict + re-scan would then adopt the stale future, skip the
      // download, and fail the read on a missing local file
      var firstErr: Throwable = null
      futs.foreach { case (local, f) =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          if (firstErr == null) firstErr = e.getCause }
        finally pendingHydrations.remove(local, f)
      }
      if (firstErr != null) throw firstErr
    }
    enforceCacheBudget(m, tableRoot, rels)
  }

  /** The automatic half of the cache-eviction story: after a scan's
    * hydration batch lands, touch its files in the mount's LRU and —
    * when a budget is set — evict least-recently-touched artifacts
    * until tracked local bytes fit, skipping (a) the current request
    * (the scan about to read them), (b) anything mid-hydration, and
    * (c) files whose remote twin can't be size-confirmed (the
    * [[evictLocalData]] safety rule: never delete the only copy). The
    * budget is therefore honored whenever it exceeds one scan's
    * working set, which is the invariant a bounded-disk follower
    * needs at 100 TB. Under CONCURRENT scans the budget must exceed
    * the SUM of their working sets: hydration fires at PLAN time, so
    * a file evicted here while another scan's tasks still hold its
    * planned local path fails that scan LOUDLY (FileNotFound — never
    * wrong results); a resubmission re-plans and re-hydrates. Size
    * the budget for the concurrency level, exactly as one sizes
    * executor memory. */
  /** Files.size without the exists/size TOCTOU: a concurrent
    * evictLocalData (or sibling sweep) may delete between a check and
    * the probe — absence is a valid answer here, never an error. */
  private def localSizeOpt(p: Path): Option[Long] =
    try Some(Files.size(p))
    catch { case _: IOException => None }

  private def enforceCacheBudget(m: HydMount, tableRoot: Path,
      rels: Seq[String]): Unit = m.maxLocalBytes.foreach { _ =>
    val current = rels.distinct.map(r =>
      keyFor(m.root, tableRoot.resolve(r), "")).toSet
    m.touched.synchronized {
      val stamp = (System.nanoTime(), Thread.currentThread().getId)
      current.foreach { rel =>
        localSizeOpt(m.root.resolve(rel)).foreach(m.touch(rel, _))
        m.planned.put(rel, stamp)   // the grace ledger (commit sweeps)
      }
    }
    sweepBudget(m, current)
  }

  /** Batch remote-size confirmation shared by every eviction path: a
    * BACKLOG confirms off ListObjectsV2 page walks — the per-key
    * `<Size>` every Contents block ships — grouped by the candidates'
    * parent dirs, so an N-file backlog costs O(pages), not N
    * sequential probes; 1-2 stragglers in a dir keep the single probe
    * (one probe beats a page walk there). A key the page walk did NOT
    * show (or showed with a non-compliant Size of -1) falls back to
    * its own probe — the list is a snapshot and an upload may land
    * between page and delete; the probe is the safety. */
  private def confirmRemoteSizes(client: Client,
      candidates: Seq[(String, Long)]): Map[String, Boolean] = {
    if (candidates.isEmpty) return Map.empty
    val pageSizes: Map[String, Long] = candidates
      .groupBy { case (k, _) => k.take(k.lastIndexOf('/') + 1) }
      .collect { case (dir, cs) if cs.size > 2 =>
        // page cost scales with the CANDIDATE RANGE, not the dir's
        // total population (a 100k-file table evicting 5 files must
        // not walk 100 pages): start strictly after the smallest
        // candidate (it falls back to its own probe) and stop past
        // the largest. Eviction backlogs are LRU-oldest and artifact
        // names sort by snapshot prefix, so the range is tight.
        val sortedKeys = cs.map(_._1).sorted
        client.listWithSizes(dir, startAfter = Some(sortedKeys.head),
          stopAfter = Some(sortedKeys.last)).filter(_._2 >= 0)
      }.flatten.toMap
    candidates.map { case (k, sz) =>
      k -> (pageSizes.get(k) match {
        case Some(remote) => remote == sz
        case None => client.sizeOf(k).contains(sz)
      })
    }.toMap
  }

  /** The eviction sweep shared by the follower cache (above) and the
    * bounded-disk WRITER (trackMirrored): drop least-recently-touched
    * tracked artifacts until local bytes fit the budget, skipping the
    * `current` working set, anything mid-hydration or mid-upload, and
    * files whose remote twin can't be size-confirmed (never delete the
    * only copy). The remote size probes run OUTSIDE the mount's
    * monitor — an eviction sweep is one HTTP round-trip per candidate,
    * and holding `m.touched` across them would serialize every
    * concurrent scan's hydration batch on this mount behind network
    * latency; candidates snapshot under the lock, confirm outside it,
    * then re-check under it before each delete (a candidate touched or
    * consumed in between simply survives). */
  private def sweepBudget(m: HydMount, current: Set[String],
      commitSweep: Boolean = false, retired: Set[String] = Set.empty): Unit =
    m.maxLocalBytes.foreach { budget =>
      // rels whose remote twin failed confirmation this sweep: never
      // re-picked, so the loop terminates even when nothing is evictable
      val unconfirmable = scala.collection.mutable.Set.empty[String]
      val graceNanos = evictionGraceMs * 1000000L
      val callerTid = Thread.currentThread().getId
      var more = true
      while (more) {
        more = false
        val candidates = m.touched.synchronized {
          if (m.trackedBytes <= budget) return
          val acc = Seq.newBuilder[(String, Long)]
          var need = m.trackedBytes - budget
          val it = m.touched.entrySet().iterator()
          while (need > 0 && it.hasNext) {
            val e = it.next()
            val local = m.root.resolve(e.getKey)
            // the grace ledger: a COMMIT sweep (current = ∅ by
            // construction) spares files a DIFFERENT thread's scan
            // planned within the window — hydration fires at plan
            // time, the scan's tasks read afterwards, and a winning
            // commit must not yank that working set mid-read. The
            // committing thread's own planned set stays evictable,
            // and the commit's RETIRED rels are never graced at all
            // (a CoW op's victims must evict at their own boundary
            // regardless of which thread planned the reading scan);
            // entries past the window prune here.
            val graced = commitSweep && graceNanos > 0 &&
              !retired.contains(e.getKey) && {
              val p = m.planned.get(e.getKey)
              if (p == null) false
              else if (System.nanoTime() - p._1 >= graceNanos) {
                m.planned.remove(e.getKey); false
              } else p._2 != callerTid
            }
            if (!graced &&
                !current.contains(e.getKey) && !unconfirmable.contains(e.getKey) &&
                !pendingHydrations.containsKey(local) &&
                !pendingUploads.containsKey(local)) {
              acc += e.getKey -> e.getValue.longValue
              need -= e.getValue.longValue
            }
          }
          acc.result()
        }
        if (candidates.isEmpty) return
        // remote confirmation outside the monitor (the whole point),
        // batched off list pages (confirmRemoteSizes). localSizeOpt:
        // the file may vanish mid-probe under a concurrent
        // evictLocalData — then there is nothing to evict.
        val withLocal = candidates.map { case (rel, _) =>
          (rel, localSizeOpt(m.root.resolve(rel)))
        }
        val conf = confirmRemoteSizes(m.client,
          withLocal.collect { case (rel, Some(sz)) => (m.prefix + rel, sz) })
        val confirmed = withLocal.map {
          case (rel, None) => (rel, true)   // already gone: the apply step untracks
          case (rel, Some(_)) =>
            (rel, conf.getOrElse(m.prefix + rel, false))
        }
        m.touched.synchronized {
          confirmed.foreach { case (rel, ok) =>
            val local = m.root.resolve(rel)
            val tracked = m.touched.get(rel)
            if (tracked != null && m.trackedBytes > budget &&
                !current.contains(rel) &&
                !pendingHydrations.containsKey(local) &&
                !pendingUploads.containsKey(local)) {
              if (!Files.exists(local)) {   // evicted out-of-band: untrack
                m.touched.remove(rel); m.planned.remove(rel)
                m.trackedBytes -= tracked.longValue
                more = true
              } else if (ok) {
                // deleteIfExists: a concurrent evictLocalData may have
                // taken the file between the exists check and here
                if (Files.deleteIfExists(local)) {
                  m.bytesEvicted.addAndGet(tracked.longValue)
                  m.filesEvicted.incrementAndGet()
                }
                m.touched.remove(rel); m.planned.remove(rel)
                m.trackedBytes -= tracked.longValue
                more = true
              } else { unconfirmable += rel; more = true }
            } else if (!ok) { unconfirmable += rel; more = true }
          }
        }
      }
    }

  /** Mount scan-time lazy hydration for a fleet FOLLOWER at `root`:
    * with [[syncMetadata]] keeping the commit log current, reads pull
    * exactly the pruned-live files they plan — the difference between
    * a REPLICA (eager [[syncRemote]]: every commit's bytes land
    * whether ever read or not) and a READER (a follower querying one
    * partition of a 100 TB table transfers that partition). Local
    * expiry becomes a real cache-eviction policy: [[evictLocalData]]
    * drops local copies, the next scan re-hydrates. Registry-scoped
    * like every mount; returns the un-mount handle. */
  def mountOnDemandHydration(root: Path, client: Client,
      prefix: String = "", maxLocalBytes: Option[Long] = None,
      readInPlace: Boolean = false): AutoCloseable = {
    // normalized so a relative/dotted table root still matches the
    // component-wise startsWith (GraftTable.hydrate normalizes its
    // side too — the auto-sync plane's hardening, applied here)
    val m = new HydMount(root.toAbsolutePath.normalize, normPrefix(prefix),
      client, maxLocalBytes,
      if (readInPlace) Some(GraftRangedFs.register(client)) else None)
    censusLocal(m)
    val un = mounted(hydMounts, m, m.root)(below => new LakeStore.Layer(below) {
      override def hydrate(tableRoot: Path, rels: Seq[String]): Unit =
        hydrateOn(m, tableRoot, rels)
      override def isLazyRoot(tableRoot: Path): Boolean = true
      // in place: the ranged mount maps each locally absent artifact to
      // `grafts3://<token>/<remote key>` (a hydrated copy is the faster
      // read); mounts without the ranged shape resolve nothing
      override def remoteReads(tableRoot: Path, rels: Seq[String]): Map[String, String] =
        m.ranged.fold(Map.empty[String, String]) { case (token, _) =>
          rels.iterator.filterNot(r => Files.exists(tableRoot.resolve(r))).map { r =>
            r -> s"grafts3://$token/${keyFor(m.root, tableRoot.resolve(r), m.prefix)}"
          }.toMap
        }
      // exactly this mount's client conf: a scan ships the credentials
      // of the store that minted its URIs, never another mount's
      override def remoteReadConf(tableRoot: Path): Seq[(String, String)] =
        m.ranged.fold(Seq.empty[(String, String)]) { case (token, _) =>
          m.client.confEntriesFor(token)
        }
      override def pullLogObject(tableRoot: Path, rel: String): Unit =
        pullLogOn(m.root, m.prefix, m.client, tableRoot, rel)
    })
    () => { un.close(); m.ranged.foreach(_._2.close()) }
  }

  /** Mount-time census of PRE-EXISTING local data/delete artifacts
    * under a BUDGETED mount: `trackMirrored` and `enforceCacheBudget`
    * feed the LRU only with files the mount subsequently touches, so a
    * budgeted mount created over a warehouse that already holds local
    * data would under-count `trackedBytes` by the pre-existing bytes —
    * silently exceeding the budget until a scan happened to touch the
    * old files. The census walks the LOCAL tree only (no network;
    * eviction safety is still the sweep's remote size confirmation)
    * and enters files oldest-mtime-first, so the pre-existing set
    * approximates its true least-recently-used order and the first
    * sweep evicts the stalest files first. */
  private def censusLocal(m: HydMount): Unit = m.maxLocalBytes.foreach { _ =>
    val acc = Seq.newBuilder[(String, Long, Long)]   // (rel, size, mtime)
    val skip = Set("_graft_log", ".staging")
    def walk(dir: Path): Unit = if (Files.isDirectory(dir)) {
      val isArtifactDir = {
        val n = dir.getFileName
        n != null && (n.toString == "data" || n.toString == "deletes")
      }
      val s = Files.list(dir)
      try s.iterator().asScala.foreach { p =>
        if (Files.isDirectory(p)) {
          if (!skip.contains(p.getFileName.toString)) walk(p)
        } else if (isArtifactDir && Files.isRegularFile(p)) {
          try acc += ((keyFor(m.root, p, ""), Files.size(p),
            Files.getLastModifiedTime(p).toMillis))
          catch { case _: IOException => () }   // vanished mid-walk
        }
      } finally s.close()
    }
    walk(m.root)
    val found = acc.result().sortBy(_._3)
    if (found.nonEmpty) m.touched.synchronized {
      found.foreach { case (rel, size, _) => m.touch(rel, size) }
    }
  }

  /** The eager METADATA plane of a lazy follower: pull the commit log
    * (slots, checkpoint headers, checkpoint parquet file-lists — all
    * KB-to-MB-sized) without touching data/delete bytes. Same
    * start-after bound as [[syncRemote]], slots materialized LAST and
    * in id order so a concurrent reader never sees a child commit
    * before its parent. Safe ONLY with [[mountOnDemandHydration]]
    * active on `root` (or a reader that never touches data): a synced
    * slot's data files are pulled at scan time, and the pre-slot
    * barrier guarantees they are remotely present the moment the slot
    * is visible. Returns the pulled keys. */
  def syncMetadata(root: Path, client: Client, prefix: String = ""): Seq[String] = {
    val p = normPrefix(prefix)
    if (idleAtHead(root, client, p)) return pullInDoubtDecisions(root, client, p)
    val startAfter = localHead(root.resolve("_graft_log"))
      .map(h => p + f"_graft_log/$h%010d.json")
    val isSlot = "_graft_log/\\d{10}\\.json".r
    val (slots, others) = client.list(p + "_graft_log/", startAfter)
      .partition(k => isSlot.matches(k.stripPrefix(p)))
    val pulled = Seq.newBuilder[String]
    def pull(key: String): Unit = {
      val local = root.resolve(key.stripPrefix(p))
      if (!Files.exists(local)) client.get(key).foreach { bytes =>
        writeLocalAtomic(local, bytes)
        pulled += key
      }
    }
    others.foreach(pull)
    slots.sorted.foreach(pull)
    pulled.result()
  }

  /** The cache-eviction half of the lazy-follower story: drop local
    * copies of data/delete artifacts whose remote twin is CONFIRMED
    * present at the same size (a one-byte ranged probe each — never a
    * download), leaving the metadata plane intact. The next scan that
    * selects an evicted file re-hydrates it on demand. Returns the
    * evicted table-relative paths. */
  def evictLocalData(root: Path, client: Client, prefix: String = ""): Seq[String] = {
    val p = normPrefix(prefix)
    val evicted = Seq.newBuilder[String]
    Seq("data", "deletes").foreach { d =>
      val dir = root.resolve(d)
      if (Files.isDirectory(dir)) {
        val s = Files.list(dir)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
          val rel = s"$d/${f.getFileName}"
          if (client.sizeOf(p + rel).contains(Files.size(f))) {
            Files.delete(f)
            evicted += rel
          }
        } finally s.close()
      }
    }
    evicted.result()
  }

  // auto-sync mounts carry a shape flag the generic Mount lacks
  private final case class SyncMount(root: Path, prefix: String,
    client: Client, metadataOnly: Boolean)
  private val syncMounts =
    new java.util.concurrent.CopyOnWriteArrayList[SyncMount]()

  private def pollOn(m: SyncMount, tableRoot: Path): Unit = {
    // warehouse-level mounts: the table's key prefix is the mount
    // prefix plus the table's warehouse-relative path — exactly
    // keyFor's rule (syncMetadata/syncRemote re-normalize the
    // trailing slash themselves)
    val pfx = keyFor(m.root, tableRoot, m.prefix)
    if (m.metadataOnly) syncMetadata(tableRoot, m.client, pfx)
    else syncRemote(tableRoot, m.client, pfx)
  }

  /** Mount LIVE auto-sync for a fleet follower at `root`: the CDC
    * stream source's every head poll (and its stream-start head
    * resolution) first pulls new remote commits, so "follow a remote
    * table live" is one `readStream` with zero manual [[syncRemote]]
    * calls — the steady-state poll costs one start-after-bounded,
    * (near-)empty list page. `metadataOnly = true` syncs just the
    * commit log (pair with [[mountOnDemandHydration]]: the stream's
    * per-commit diff then hydrates exactly the files it touches);
    * false pulls each new commit's referenced files eagerly (the
    * replica shape). Registry-scoped; returns the un-mount handle. */
  def mountAutoSync(root: Path, client: Client, prefix: String = "",
      metadataOnly: Boolean = false): AutoCloseable = {
    // normalized so a relative/dotted stream path still matches the
    // component-wise startsWith (the dispatch side normalizes too)
    val m = SyncMount(root.toAbsolutePath.normalize,
      normPrefix(prefix), client, metadataOnly)
    mounted(syncMounts, m, m.root)(below => new LakeStore.Layer(below) {
      override def beforeLogPoll(tableRoot: Path): Unit = pollOn(m, tableRoot)
      override def pullLogObject(tableRoot: Path, rel: String): Unit =
        pullLogOn(m.root, m.prefix, m.client, tableRoot, rel)
    })
  }

  /** Mount the object store as `root`'s commit arbiter: every
    * writeAtomic under `root` must WIN its key remotely (conditional
    * PUT) before the local file materializes, so the store — not the
    * local FS — is the source of truth for slot ownership, exactly the
    * deployment shape with S3/MinIO behind a fleet of writers.
    * Registry-scoped (see above); the pending mirror uploads of
    * exactly the artifacts a commit references are AWAITED before its
    * slot is arbitrated (awaitReferenced — path-keyed, so placements
    * from worker-pool threads are covered).
    *
    * `prefix` namespaces every key — mount MULTIPLE table roots into
    * one bucket with distinct prefixes, or mount one WAREHOUSE root
    * (each table's keys are then namespaced by its warehouse-relative
    * path automatically). Without either, two tables sharing a bucket
    * would arbitrate against each other's `_graft_log` slots.
    * Returns an un-mount handle. */
  def mountCommitArbiter(root: Path, client: Client,
      prefix: String = ""): AutoCloseable = {
    val m = Mount(root.toAbsolutePath.normalize, normPrefix(prefix), client)
    mounted(arbMounts, m, m.root)(below => new LakeStore.Layer(below) {
      override def arbitrate(target: Path, content: String): Unit =
        arbitrateOn(m, target, content)
    })
  }

  /** Mirror every artifact placed under `root` to the store (data /
    * delete files land alongside the commit plane). Artifacts STREAM
    * up ([[Client.putFile]]: ofFile single PUT, multipart above the
    * threshold) — a 1 GiB parquet never lands on the committing JVM's
    * heap — and upload IN PARALLEL off a bounded pool; the commit
    * arbiter awaits the committing thread's uploads before any slot
    * PUT, so a commit waits for the SLOWEST upload, not the sum.
    * Checkpoint directories mirror synchronously (rare, already
    * batched, and not followed by an arbitrated write of their own),
    * so a blank-machine restore keeps O(1) replay even after
    * [[pruneRemote]] dropped the store's copies of expired commits. */
  def mountArtifactMirror(root: Path, client: Client,
      prefix: String = "", directWrite: Boolean = false): AutoCloseable = {
    // ops that stage locally even under direct-write (CTAS `.staging`
    // publishes, add_files of local sources) keep the mirror-then-evict
    // path through `place`
    val direct = if (directWrite) Some(GraftRangedFs.register(client)) else None
    val m = Mount(root.toAbsolutePath.normalize, normPrefix(prefix), client,
      direct.map(_._1))
    val un = mounted(mirMounts, m, m.root)(below => new LakeStore.Layer(below) {
      override def place(src: Path, dst: Path): Unit = placeOn(m, below, src, dst)
      override def checkpointPlaced(dir: Path): Unit = checkpointOn(m, dir)
      override def artifactDiscarded(p: Path): Unit = discardOn(m, p)
      override def remoteStage(tableRoot: Path): Option[LakeStore.RemoteStage] =
        m.token.fold(below.remoteStage(tableRoot))(stageOn(m, _, tableRoot))
    })
    () =>
      // nothing of THIS mount's in flight outlives it — and a failed
      // upload must still UNMOUNT (a throwing close that leaves the
      // binding live would poison every later suite in the shared JVM)
      try flushAll(m)
      finally { un.close(); direct.foreach(_._2.close()) }
  }

  /** Crash recovery / DR for an arbitrated mount: the store holds
    * every WON commit; a writer that died between winning its slot
    * remotely and materializing it locally leaves a gap the store can
    * fill. Pulls every missing object under `prefix` down (a FULL
    * bucket walk — DR is inherently O(objects); routine fleet sync
    * should use [[syncRemote]], which is O(delta)). Idempotent.
    * Returns the materialized keys. */
  def materializeMissing(root: Path, client: Client,
      prefix: String = ""): Seq[String] = {
    val p = normPrefix(prefix)
    // ARTIFACTS BEFORE COMMIT SLOTS — the write path's own ordering
    // (placeArtifact, then the log link): a LIVE reader (a CDC stream,
    // a concurrent query) replans the moment a new slot materializes,
    // and must never see a commit whose data files haven't landed yet.
    // A plain sorted walk gets this exactly backwards ("_graft_log/"
    // sorts before "data/").
    val (slots, others) = client.list(p)
      .partition(_.stripPrefix(p).matches("(.*/)?_graft_log/\\d{10}\\.json"))
    def pull(key: String): Option[String] = {
      val local = root.resolve(key.stripPrefix(p))
      if (Files.exists(local)) None
      else client.get(key).map { bytes => writeLocalAtomic(local, bytes); key }
    }
    // the artifact phase is the DR's byte volume — pull it in parallel
    // (order-free: unique immutable names, unreferenced until a slot
    // lands); slots then materialize SEQUENTIALLY in id order, so a
    // concurrent reader never sees a child commit before its parent
    val pulledOthers = others
      .map(k => hydPool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] = pull(k)
      }))
      .flatMap { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    pulledOthers ++ slots.sorted.flatMap(pull)
  }

  /** Routine O(delta) fleet sync for ONE table mounted at `root`:
    * lists only the table's commit-log prefix STRICTLY AFTER the local
    * head's slot key (ListObjectsV2 `start-after`), pulls the missing
    * log objects, then fetches exactly the data/delete files the NEW
    * commit JSONs reference via targeted GETs — never a whole-bucket
    * walk. The start-after bound makes the steady state truly O(new):
    * an idle poll on a table with 100k retained commits costs ONE list
    * page that comes back (near-)empty, not ~100 pages rescanning the
    * log forever. Slot keys are all-digit (`%010d.json`) and digits
    * sort before every letter in ASCII, so the bound skips exactly the
    * slots at or below the head while letter-named log objects
    * (checkpoint / ckptmeta / ckptfiles mirrors) still list — those
    * skip on the local-exists check as before, and their count is
    * bounded by checkpoint retention, not commit history. A
    * deliberate corollary: slots the FOLLOWER expired locally are no
    * longer resurrected by the next poll — local expiry is a cache/
    * retention decision the sync now respects. [[materializeMissing]]
    * remains the DR path. Returns the pulled keys. */
  def syncRemote(root: Path, client: Client, prefix: String = ""): Seq[String] = {
    val p = normPrefix(prefix)
    if (idleAtHead(root, client, p)) return pullInDoubtDecisions(root, client, p)
    val pulled = Seq.newBuilder[String]
    val isSlot = "_graft_log/\\d{10}\\.json".r
    val startAfter = localHead(root.resolve("_graft_log"))
      .map(h => p + f"_graft_log/$h%010d.json")
    client.list(p + "_graft_log/", startAfter).foreach { key =>
      val rel = key.stripPrefix(p)
      val local = root.resolve(rel)
      if (!Files.exists(local)) client.get(key).foreach { bytes =>
        if (isSlot.matches(rel)) {
          // a commit references its files by table-relative path; pull
          // the ones this machine lacks (adds only: removes point at
          // files a fully-synced peer already has or never needs).
          // ARTIFACTS LAND FIRST, the slot LAST — the write path's own
          // ordering: a live reader (a CDC stream mid-poll) replans
          // the instant the slot materializes and must never see a
          // commit whose data files haven't arrived. A referenced
          // artifact MISSING remotely (a writer's upload still in
          // flight) stops the sync BEFORE this slot materializes —
          // landing the slot anyway would hand the reader exactly the
          // torn commit this ordering exists to prevent; the next
          // sync poll completes it.
          val adds = GraftTable.parseCommit(new String(bytes, UTF_8)).adds
          val complete = adds.forall { f =>
            val fLocal = root.resolve(f.path)
            Files.exists(fLocal) || client.get(p + f.path).exists { fb =>
              writeLocalAtomic(fLocal, fb)
              pulled += p + f.path
              true
            }
          }
          if (!complete) return pulled.result()
        }
        writeLocalAtomic(local, bytes)
        pulled += key
      }
    }
    pulled.result()
  }

  /** Bucket hygiene — the inverse of [[materializeMissing]], run AFTER
    * local `expire_snapshots` / `remove_orphan_files`: local retirement
    * is the policy decision, this mirrors it up so the bucket tracks
    * the RETAINED lineage instead of growing forever. Warehouse-aware
    * and PREFIX-SCOPED: tables are discovered from the LOCAL warehouse
    * (every dir holding a `_graft_log` — prune mirrors LOCAL
    * retirement, and a table this machine never had has nothing
    * locally retired; use [[syncRemote]]/[[materializeMissing]] to
    * acquire foreign tables), each judged against ITS OWN local head.
    * Listing cost is per-table: ONE small log-prefix page decides
    * whether anything diverged, and a table whose remote slot set
    * equals its local slot set is SKIPPED without ever listing its
    * (artifact-sized) full prefix — so a 1000-table warehouse where
    * one table expired pays one log page per table plus one full list
    * for the one table that changed, never a whole-bucket walk. (The
    * skip's conservative corner: artifacts orphan-removed locally with
    * NO log change stay remote until the table's next log-changing
    * prune — delayed deletion, never a wrong one.) Two safety rules
    * make it crash- and fleet-safe:
    *  - a remote-only commit SLOT above its table's local head is a
    *    crashed writer's WON commit — it is RESCUED (materialized
    *    locally) rather than destroyed;
    *  - any object whose name carries a snapshot prefix above the
    *    pre-rescue head (the rescued commits' data/delete files) is
    *    protected from this pass — a follow-up materializeMissing
    *    completes them locally.
    * Deletion is a strict WHITELIST — only object classes whose local
    * absence PROVES local retirement are eligible: commit slots and
    * snapshot-prefixed artifacts at or below their table's pre-rescue
    * head (expiry deletes a contiguous prefix; live artifacts exist
    * locally). Everything else — checkpoint mirrors, txn decisions,
    * keys owned by no local table — is conservatively retained: a
    * fleet member that never pulled them cannot tell "retired" from
    * "never had", and the bucket's checkpoint mirror may be the only
    * replay seed left after another member pruned its expired commits.
    * Returns (rescued slot keys, deleted keys). */
  /** Local table discovery under a mount root: every dir holding a
    * `_graft_log` is a table root, returned as ""-or-'/'-terminated
    * relative prefixes, LONGEST FIRST — a nested table's keys must
    * never be judged by an enclosing table's head. Shared by
    * [[pruneRemote]] and [[removeOrphanRemote]]. */
  private def discoverLocalTables(root: Path): Seq[String] = {
    val acc = Seq.newBuilder[String]
    // table-internal dirs never contain another table root
    val internal = Set("_graft_log", "data", "deletes", ".staging")
    def walk(dir: Path, rel: String): Unit = if (Files.isDirectory(dir)) {
      if (Files.isDirectory(dir.resolve("_graft_log"))) acc += rel
      // recurse EVEN under a table root (skipping its internal
      // dirs): discovery that stopped at the first _graft_log would
      // leave a locally-nested table out of the result, and the
      // enclosing table's full-prefix pass would then judge the
      // nested table's keys by the WRONG head
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(d => Files.isDirectory(d) &&
          !internal.contains(d.getFileName.toString))
        .foreach(d => walk(d, rel + d.getFileName.toString + "/"))
      finally s.close()
    }
    walk(root, "")
    acc.result().sortBy(-_.length)
  }

  def pruneRemote(root: Path, client: Client,
      prefix: String = ""): (Seq[String], Seq[String]) = {
    // WRITER-SIDE ONLY: the retired-artifact rule below reads "not
    // locally present && id <= local head" as proof of local
    // retirement, which assumes live artifacts exist locally. A lazy
    // follower (metadata-only sync / on-demand hydration / evicted
    // cache) deliberately violates that assumption — running prune
    // there would delete every live data/delete object REMOTELY and
    // break the table for the whole fleet. Refuse loudly when the root
    // overlaps any hydration or metadata-only sync mount.
    val nroot = root.toAbsolutePath.normalize
    def overlaps(r: Path) = nroot.startsWith(r) || r.startsWith(nroot)
    require(!hydMounts.asScala.exists(m => overlaps(m.root)) &&
        !syncMounts.asScala.exists(m => m.metadataOnly && overlaps(m.root)),
      s"pruneRemote is writer-side only: $root is (or contains) a lazy-follower " +
        "root — locally absent artifacts there mean 'not yet hydrated', not " +
        "'retired', and pruning would destroy the fleet's live objects")
    val p = normPrefix(prefix)
    val tables = discoverLocalTables(root)
    val rescuedB = Seq.newBuilder[String]
    val deletedB = Seq.newBuilder[String]
    tables.foreach { t =>
      val local = localSlotNames(root.resolve(t + "_graft_log"))
      // -1 when NO local slots: a writer that created its _graft_log
      // dir, won slot 0 (the CREATE) remotely, and crashed before the
      // local write must have that slot RESCUED — a 0-default would
      // classify it retired (0 <= 0) and destroy the won commit
      val head = local.map(_.take(10).toLong).maxOption.getOrElse(-1L)
      // ONE small page decides whether this table diverged at all
      val remoteLog = client.list(p + t + "_graft_log/")
      val remoteSlots = remoteLog.map(_.split('/').last)
        .filter(_.matches("\\d{10}\\.json")).toSet
      // rescue first: remote-only slots above the pre-rescue head are
      // a crashed writer's won commits
      remoteSlots.diff(local).foreach { n =>
        if (n.take(10).toLong > head) {
          val k = p + t + "_graft_log/" + n
          client.get(k).foreach { bytes =>
            writeLocalAtomic(root.resolve(t + "_graft_log/" + n), bytes)
            rescuedB += k
          }
        }
      }
      if (remoteSlots != local) {
        // something retired (or was rescued): list the table's full
        // prefix once and apply the whitelist under the PRE-RESCUE head
        val prefixed = "(\\d{10})[.-].*".r
        // a longer (nested) table owns its own keys
        val nested = tables.filter(x => x != t && x.startsWith(t))
        client.list(p + t).foreach { k =>
          val rel = k.stripPrefix(p)
          if (!nested.exists(rel.startsWith(_)) && !Files.exists(root.resolve(rel))) {
            val relIn = rel.stripPrefix(t)
            val segs = relIn.split('/')
            val retired =
              if (relIn.startsWith("_graft_log/")) {
                // only SLOTS retire from the log plane; checkpoint
                // mirrors (checkpoint-/ckptmeta-/ckptfiles-) and txn
                // decisions are conservatively retained — the bucket's
                // checkpoint may be the only replay seed left after a
                // peer pruned its expired commits
                val n = relIn.stripPrefix("_graft_log/")
                n.matches("\\d{10}\\.json") && n.take(10).toLong <= head
              } else if (segs.length == 2 &&
                  (segs(0) == "data" || segs(0) == "deletes")) {
                // artifacts live FLAT in data/ and deletes/ (partition
                // tuples are metadata, not paths) — only those two
                // depth-2 shapes retire. Any OTHER subpath (e.g. a
                // remote-only table nested under this prefix that this
                // machine never synced) is conservatively retained:
                // judging foreign keys by this table's head would
                // destroy a live foreign table's lineage
                segs(1) match {
                  case prefixed(id) => id.toLong <= head
                  case _ => false
                }
              } else false
            if (retired) { client.delete(k); deletedB += k }
          }
        }
      }
    }
    (rescuedB.result(), deletedB.result())
  }

  /** Remote orphan sweep — the DIRECT-WRITE twin of
    * [[GraftTable.removeOrphanFiles]]. A crashed direct-write job
    * leaves debris that exists ONLY in the bucket: its `.stage-<uuid>/`
    * tree (multipart-streamed task output plus the committer's
    * `_temporary` walk) and, for a writer that died between publish
    * and its slot win, snapshot-prefixed `data/`/`deletes/` objects no
    * commit references. The local sweep walks the local table root and
    * so never sees them, and [[pruneRemote]]'s whitelist conservatively
    * retains them forever (correctly — local absence proves nothing
    * about them). This sweep judges by the COMMIT LOG instead, via
    * [[GraftTable.unreferencedRels]] (the same judgment the local
    * sweep uses, so WAP-staged and checkpoint-seeded references are
    * honored), age-gated by the listing's per-key `<LastModified>`:
    *  - keys under a `.stage-*` dir DIRECTLY below a table root, older
    *    than the horizon (a live job's stage is younger by contract);
    *  - depth-2 `data/`/`deletes/` keys referenced by no commit, older
    *    than the horizon. Any other shape — `_graft_log/` wholesale,
    *    nested/foreign subpaths, keys with no parseable mtime — is
    *    conservatively retained, exactly pruneRemote's discipline.
    *
    * Two preconditions, both enforced:
    *  - CAUGHT-UP LOG, per table: any remote commit slot absent
    *    locally refuses the sweep loudly — judging against a stale log
    *    would call a fleet peer's fresh commit's files orphans. (This
    *    is why, unlike pruneRemote, a metadata-synced follower MAY run
    *    this sweep: the judgment reads the log, never local presence.)
    *  - `olderThanMs` (absolute epoch ms, like the local sweep) must
    *    predate the longest in-flight write: the pre-slot barrier
    *    uploads a commit's artifacts BEFORE its slot appears, and the
    *    horizon is what keeps that window out of reach — the same
    *    contract Iceberg's remove_orphan_files documents.
    *
    * Returns the deleted (or would-delete, if dryRun) bucket keys. */
  def removeOrphanRemote(root: Path, client: Client, olderThanMs: Long,
      prefix: String = "", dryRun: Boolean = false): Seq[String] = {
    val nroot = root.toAbsolutePath.normalize
    val p = normPrefix(prefix)
    val tables = discoverLocalTables(nroot)
    val deleted = Seq.newBuilder[String]
    tables.foreach { t =>
      val local = localSlotNames(nroot.resolve(t + "_graft_log"))
      val remoteSlots = client.list(p + t + "_graft_log/")
        .map(_.split('/').last).filter(_.matches("\\d{10}\\.json")).toSet
      val unsynced = remoteSlots.diff(local)
      require(unsynced.isEmpty,
        s"removeOrphanRemote: table '$t' has remote commit slots absent " +
          s"locally (${unsynced.toSeq.sorted.mkString(", ")}) — sync first " +
          "(syncMetadata/syncRemote/pruneRemote's rescue): judging orphans " +
          "against a stale log would destroy a fleet peer's fresh files")
      val nested = tables.filter(x => x != t && x.startsWith(t))
      val dataCand = Seq.newBuilder[(String, String)] // (rel, key)
      client.listWithMeta(p + t).foreach { case (k, _, mtime) =>
        val rel = k.stripPrefix(p)
        if (!nested.exists(rel.startsWith(_)) &&
            mtime >= 0 && mtime < olderThanMs) {
          val relIn = rel.stripPrefix(t)
          val segs = relIn.split('/')
          if (!relIn.startsWith("_graft_log/")) {
            if (segs.length >= 2 && segs(0).startsWith(".stage-")) {
              deleted += k
              if (!dryRun) client.delete(k)
            } else if (segs.length == 2 &&
                (segs(0) == "data" || segs(0) == "deletes"))
              dataCand += relIn -> k
          }
        }
      }
      val cand = dataCand.result().toMap
      GraftTable.unreferencedRels(nroot.resolve(t).toString, cand.keys.toSeq)
        .foreach { rel =>
          val k = cand(rel)
          deleted += k
          if (!dryRun) client.delete(k)
        }
    }
    deleted.result()
  }

  /** Atomic local materialization of a pulled object: stage to a tmp
    * sibling, then one rename — a torn direct Files.write could hand a
    * concurrent log replay half a commit JSON, or make the remote
    * winner's own createLink read mismatched bytes and misclassify its
    * win as a conflict. REPLACE_EXISTING: a racer that materialized
    * the same key first wrote the same bytes (remote objects are
    * immutable), so last-rename-wins is harmless. */
  private def writeLocalAtomic(local: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(local.getParent)
    val tmp = local.getParent.resolve(s".s3pull-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    try Files.move(tmp, local,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    finally Files.deleteIfExists(tmp)
  }

  /** O(1) idle-poll probe over the DENSE slot sequence (writers win
    * slot head+1 or retry above it, so slot N+1 always exists remotely
    * before N+2 is ever won; expiry retires a contiguous PREFIX):
    * "anything new?" is exactly "does slot head+1 exist remotely?" —
    * one ranged byte-probe, never a list page. True = the poll can
    * return immediately: head+1 is absent AND slot `head` itself is
    * still present remotely (remote head == local head). The second
    * probe is what distinguishes genuinely-idle from PRUNED-PAST-US (a
    * follower rejoining after the writer expired + pruned its slots
    * sees both absent and must fall back to the listing, which the
    * start-after bound then serves as before). Steady-state cost: two
    * byte-probes idle, one when commits exist. Corollary: letter-named
    * log objects landing with NO new slot (a checkpoint written after
    * the final commit, a crashed seal's decision mirror) are not
    * picked up by an IDLE poll — checkpoints are derived state the
    * next commit's listing (or DR) re-covers, and txn decisions pull
    * on demand at classification time (LakeStore.pullLogObject). */
  private def idleAtHead(root: Path, client: Client, p: String): Boolean =
    localHead(root.resolve("_graft_log")).exists { h =>
      client.sizeOf(p + f"_graft_log/${h + 1}%010d.json").isEmpty &&
        client.sizeOf(p + f"_graft_log/$h%010d.json").isDefined
    }

  /** The idle poll's decision sweep: a crashed seal's txn decision
    * lands remotely with NO new slot, so the probe alone would never
    * deliver it — and a MOUNT-LESS follower calling syncMetadata/
    * syncRemote directly has no store to pull through either. One
    * targeted GET per locally-in-doubt transaction (usually zero,
    * computed from the memoized off-main tail — never a list page)
    * keeps decision liveness for every caller shape. */
  private def pullInDoubtDecisions(root: Path, client: Client,
      p: String): Seq[String] = {
    val pulled = Seq.newBuilder[String]
    try GraftTable.inDoubtDecisionRels(root.toString).foreach { rel =>
      val local = root.resolve(rel)
      if (!Files.exists(local)) client.get(p + rel).foreach { bytes =>
        writeLocalAtomic(local, bytes)
        pulled += p + rel
      }
    } catch { case _: Throwable => () }   // a torn local log never fails a poll
    pulled.result()
  }

  /** Best-effort targeted pull of ONE table-relative log object for a
    * follower root — the liveness path for metadata that can land with
    * NO accompanying commit slot (a transaction's decision mirror when
    * the seal crashed before its property commit): the O(1) idle probe
    * deliberately never lists letter-named keys, so such objects are
    * pulled on demand at the moment replay needs them. Served by both
    * follower shapes (auto-sync and hydration); absence local AND
    * remote = still in doubt, a no-op — never an error. */
  private def pullLogOn(mroot: Path, mpfx: String, client: Client,
      tableRoot: Path, rel: String): Unit = {
    val local = tableRoot.resolve(rel)
    if (!Files.exists(local))
      client.get(keyFor(mroot, local, mpfx)).foreach(writeLocalAtomic(local, _))
  }

  /** The slot-named (`%010d.json`) files of a local `_graft_log` dir —
    * THE shared definition of the local commit plane for syncRemote,
    * syncMetadata, and pruneRemote, factored once so the sync paths
    * and hygiene can never disagree on what the local head is. */
  private def localSlotNames(log: Path): Set[String] =
    if (!Files.isDirectory(log)) Set.empty
    else {
      val s = Files.list(log)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("\\d{10}\\.json")).toSet
      finally s.close()
    }

  /** Max local slot id, None when the log holds no slots. NEVER
    * default this to 0: slot 0 is the CREATE commit, and a 0-sentinel
    * would both skip the start-after bound for a create-only follower
    * and make prune classify a crashed writer's won CREATE as retired
    * (id 0 <= head 0) instead of rescuing it. */
  private def localHead(log: Path): Option[Long] =
    localSlotNames(log).map(_.take(10).toLong).maxOption

  private def normPrefix(p: String): String =
    if (p.isEmpty || p.endsWith("/")) p else p + "/"

  // mount roots are absolute and normalized; a table may name its
  // paths relative to the working directory
  private def keyFor(root: Path, target: Path, prefix: String): String =
    prefix + root.relativize(target.toAbsolutePath.normalize).toString
      .replace(java.io.File.separatorChar, '/')
}
