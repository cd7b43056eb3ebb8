package graft.sources.kinesis

import java.lang.reflect.{InvocationTargetException, Method}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

/** Production AWS adapter: [[KinesisLikeClient]] over the AWS SDK for
  * Java v2, bound **entirely by reflection** so this build keeps zero
  * AWS dependencies (build.sbt is offline; the SDK is not on the
  * compile classpath). At runtime the adapter works against whatever
  * provides the public SDK v2 API surface on the classpath:
  *
  *  - in production, the real `software.amazon.awssdk:kinesis` jar —
  *    drop it on the classpath of EVERY node where [[configure]] runs
  *    (the driver builds and validates a client at planning time, the
  *    executors at read time — so in practice both) and set
  *    `option("clientClass", "graft.sources.kinesis.AwsKinesisClient")`.
  *    [[configure]] eagerly resolves the full reflective surface and
  *    builds the SDK client, so a node WITHOUT the SDK jar fails at
  *    configure, not at first use; a deployment that genuinely wants
  *    deferred binding (e.g. driver-side option validation with no SDK
  *    on the driver) sets `option("validate", "false")` to restore the
  *    lazy fail-at-first-use behavior;
  *  - in this repo's tests, an API-shaped stub backed by
  *    [[FakeKinesisService]] (AwsKinesisClientSpec), which proves the
  *    reflective plumbing — request building, pagination, response
  *    mapping, error translation, backoff — end-to-end.
  *
  * The method-by-method RPC mapping is [[KinesisLikeClient]]'s
  * scaladoc, and [[AwsKinesisAdapter.clientRpcs]] the RPCs it invokes;
  * semantics mirror what the Go reference drives through
  * `aws-sdk-go-v2` (kinesis.go:45-52).
  *
  * == Lifecycle ==
  *
  * Instances hold only string options and are Serializable; the actual
  * SDK client is built once per (JVM, config) in [[AwsKinesisClient
  * .clientCache]] — one client per executor, cached, unlike the
  * reference which constructs a new client per call site
  * (kinesis.go:60, 115, 159; SURVEY.md §4 calls this out).
  *
  * == Options (configure) ==
  *
  * Lower-cased DSv2 source options:
  *  - `region` → `KinesisClient.builder().region(Region.of(r))`
  *    (option.go:38)
  *  - `sts=true` + `profile` → `ProfileCredentialsProvider.create(p)`
  *    on the builder (option.go:39-41's shared-config STS profile)
  *  - `endpoint` → `endpointOverride(URI)` (localstack / VPC endpoints)
  *  - `throughputretries` / `throughputbackoffms` → bounded retry of
  *    `ProvisionedThroughputExceededException` (the 5 reads/s/shard
  *    service limit; steady-state stays under it via the planner's
  *    admission cap, the retry only rides out transient spikes) and of
  *    the control-plane `LimitExceededException` (ListShards /
  *    DescribeStreamSummary API rate limits)
  *  - `metadatascanhops` → cap on GetRecords hops inside
  *    [[sequenceAfter]]'s metadata scan (empty iterator regions)
  *
  * == Error translation ==
  *
  * SDK `ExpiredIteratorException` → this package's
  * [[ExpiredIteratorException]], so the reader's bounded refresh path
  * engages (kinesis.go:184-191 minus its nil-deref). Exceptions are
  * matched by simple class name, so any SDK minor version (and the
  * test stub) translates identically.
  */
class AwsKinesisClient extends ConfigurableKinesisClient {

  @volatile private var opts: Map[String, String] = Map.empty

  /** Fails FAST on version skew: after storing the options, resolve the
    * ENTIRE reflective surface ([[AwsKinesisAdapter.requestSetters]] /
    * `responseAccessorTypes` / `clientRpcs`) against the loaded classes and
    * throw with the complete problem list — one renamed SDK member
    * would otherwise be a NoSuchMethodException at first use in
    * production, in whichever code path reaches it first. Opt out with
    * `validate=false` (e.g. a deliberately partial classpath that only
    * consumes, never produces).
    */
  override def configure(options: Map[String, String]): Unit = {
    opts = options
    if (!opt("validate").contains("false")) {
      val problems = validate()
      if (problems.nonEmpty)
        throw new IllegalStateException(
          s"AwsKinesisClient: ${problems.size} reflective binding problem(s) " +
            s"against '$pkg' (SDK version skew?):\n  " +
            problems.mkString("\n  "))
    }
  }

  /** Resolve every reflectively-bound class/method the adapter will use
    * and return ALL problems (empty = the loaded classpath satisfies
    * the full [[AwsKinesisAdapter]] surface). Never throws.
    */
  def validate(): Seq[String] = {
    val problems = Seq.newBuilder[String]
    def requireMethod(cls: Class[_], name: String, argc: Int, label: String): Unit =
      if (!cls.getMethods.exists(m => m.getName == name && m.getParameterCount == argc))
        problems += s"$label: no public method $name/$argc on ${cls.getName}"
    def withClass(fqcn: String, label: String)(f: Class[_] => Unit): Unit =
      try f(Class.forName(fqcn))
      catch {
        case _: ClassNotFoundException => problems += s"$label: class not found: $fqcn"
        case e: Throwable => problems += s"$label: $fqcn: $e"
      }
    // request builders: static builder(), each chained setter, build()
    AwsKinesisAdapter.requestSetters.toSeq.sortBy(_._1).foreach { case (cname, setters) =>
      withClass(s"$pkg.model.$cname", cname) { _ =>
        try {
          val b = AwsKinesisClient.callStatic(s"$pkg.model.$cname", "builder")
          setters.foreach(s => requireMethod(b.getClass, s, 1, s"$cname.builder()"))
          requireMethod(b.getClass, "build", 0, s"$cname.builder()")
        } catch { case e: Throwable => problems += s"$cname: static builder(): $e" }
      }
    }
    // response accessors (absolute names = core classes outside pkg):
    // existence by name/arity PLUS declared return type — a renamed
    // member fails resolution, a re-typed member (same name, new
    // return type) would otherwise only fail as a ClassCastException
    // at first use. Expected types match by FQCN or simple name
    // (overloads pass if any candidate matches).
    AwsKinesisAdapter.responseAccessorTypes.toSeq.sortBy(_._1).foreach { case (cname, types) =>
      val fqcn = if (cname.contains('.')) cname else s"$pkg.model.$cname"
      withClass(fqcn, cname)(cls => types.foreach { case (a, want) =>
        val candidates = cls.getMethods.filter(
          m => m.getName == a && m.getParameterCount == 0)
        if (candidates.isEmpty)
          problems += s"$cname: no public method $a/0 on ${cls.getName}"
        else if (!candidates.exists(m =>
            m.getReturnType.getName == want || m.getReturnType.getSimpleName == want))
          problems += s"$cname.$a(): return type " +
            s"${candidates.map(_.getReturnType.getName).distinct.mkString("|")} " +
            s"does not match expected $want"
      })
    }
    // static factories the adapter calls (credential/region ones only
    // when the options actually route through them)
    withClass("software.amazon.awssdk.core.SdkBytes", "SdkBytes")(
      requireMethod(_, "fromByteArray", 1, "SdkBytes"))
    if (opt("region").nonEmpty)
      withClass("software.amazon.awssdk.regions.Region", "Region")(
        requireMethod(_, "of", 1, "Region"))
    if (opt("sts").contains("true"))
      withClass("software.amazon.awssdk.auth.credentials.ProfileCredentialsProvider",
        "ProfileCredentialsProvider")(
        requireMethod(_, "create", 1, "ProfileCredentialsProvider"))
    // the client itself: builder().…build() succeeds and every RPC
    // resolves on the BUILT client's class (the SDK client is an
    // interface over a package-private impl; the built instance is
    // what [[rpc]] dispatches against)
    try {
      val c = sdk
      AwsKinesisAdapter.clientRpcs.foreach(r =>
        requireMethod(c.getClass, r, 1, "KinesisClient"))
    } catch {
      case e: Throwable =>
        problems += "KinesisClient: builder().build() failed: " +
          AwsKinesisClient.rootCause(e)
    }
    problems.result()
  }

  private def opt(key: String): Option[String] = opts.get(key).filter(_.nonEmpty)
  private def intOpt(key: String, dflt: Int): Int =
    opt(key).map(_.toInt).getOrElse(dflt)

  // ---- reflective plumbing -------------------------------------------------

  import AwsKinesisClient._

  private def pkg: String =
    opt("sdkpackage").getOrElse("software.amazon.awssdk.services.kinesis")

  /** The per-JVM SDK client for this configuration. */
  private def sdk: AnyRef = {
    val key = s"$pkg|${opt("region").getOrElse("")}|${opt("endpoint").getOrElse("")}|" +
      s"${opt("sts").getOrElse("")}|${opt("profile").getOrElse("")}"
    clientCache.computeIfAbsent(key, _ => buildClient())
  }

  private def buildClient(): AnyRef = {
    var b = callStatic(s"$pkg.KinesisClient", "builder")
    opt("region").foreach { r =>
      val region = callStatic("software.amazon.awssdk.regions.Region", "of", r)
      b = call(b, "region", region)
    }
    opt("endpoint").foreach { e =>
      b = call(b, "endpointOverride", java.net.URI.create(e))
    }
    if (opt("sts").contains("true")) {
      // option.go:39-41: the Go reference resolves credentials through a
      // shared-config STS profile; v2 Java equivalent is a profile
      // provider on the builder (assume-role chains configure the same
      // way through the profile file).
      val profile = opt("profile").getOrElse("default")
      val prov = callStatic(
        "software.amazon.awssdk.auth.credentials.ProfileCredentialsProvider",
        "create", profile)
      b = call(b, "credentialsProvider", prov)
    }
    call(b, "build")
  }

  /** Build a `<Name>Request` via its builder: `builder()`, one chained
    * setter per (name, value) pair, `build()`.
    */
  private def request(name: String, fields: (String, AnyRef)*): AnyRef = {
    var b = callStatic(s"$pkg.model.$name", "builder")
    fields.foreach { case (f, v) => b = call(b, f, v) }
    call(b, "build")
  }

  /** Invoke an RPC on the cached client, translating SDK exceptions and
    * retrying throughput throttles with bounded exponential backoff.
    */
  private def rpc(name: String, req: AnyRef): AnyRef = {
    val retries = intOpt("throughputretries", 3)
    val baseMs = intOpt("throughputbackoffms", 100)
    var attempt = 0
    while (true) {
      try return call(sdk, name, req)
      catch {
        case e: Throwable =>
          val cause = rootCause(e)
          val simple = cause.getClass.getSimpleName
          if (simple == "ExpiredIteratorException")
            throw new ExpiredIteratorException(
              s"$name: ${Option(cause.getMessage).getOrElse(simple)}")
          else if ((simple == "ProvisionedThroughputExceededException" ||
              simple == "LimitExceededException") && attempt < retries) {
            // LimitExceeded = control-plane throttle (ListShards /
            // DescribeStreamSummary API rate limits) — same backoff.
            // Shift clamped to 20 (≤ ~10⁶×base): Java long shifts are
            // mod 64, so a user-configured throughputretries ≥ 32
            // would otherwise wrap into nonsense sleep durations.
            Thread.sleep(baseMs.toLong << math.min(2 * attempt, 20)) // 1x, 4x, 16x, …

            attempt += 1
          } else throw cause
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def str(target: AnyRef, name: String): String =
    call(target, name).asInstanceOf[String]

  // ---- KinesisLikeClient ---------------------------------------------------

  /** ≈ ListShards with nextToken pagination (kinesis.go:121-128). AWS
    * rejects requests carrying BOTH streamName and nextToken, so
    * follow-up pages send only the token.
    */
  override def listShards(streamName: String): Seq[ShardInfo] = {
    val out = Seq.newBuilder[ShardInfo]
    var token: String = null
    var first = true
    while (first || token != null) {
      val req =
        if (first) request("ListShardsRequest", "streamName" -> streamName)
        else request("ListShardsRequest", "nextToken" -> token)
      first = false
      val resp = rpc("listShards", req)
      val shards = call(resp, "shards").asInstanceOf[java.util.List[AnyRef]]
      shards.forEach { sh =>
        val range = call(sh, "sequenceNumberRange")
        // a closed shard's sequence range has an ending sequence number
        val closed = range != null && call(range, "endingSequenceNumber") != null
        out += ShardInfo(str(sh, "shardId"), Option(str(sh, "parentShardId")),
          closed, Option(str(sh, "adjacentParentShardId")))
      }
      token = str(resp, "nextToken")
    }
    out.result()
  }

  /** ≈ DescribeStreamSummary → stream status (kinesis.go:71-77). */
  override def streamStatus(streamName: String): String = {
    val resp = rpc("describeStreamSummary",
      request("DescribeStreamSummaryRequest", "streamName" -> streamName))
    str(call(resp, "streamDescriptionSummary"), "streamStatusAsString")
  }

  /** ≈ GetShardIterator: TRIM_HORIZON from the start,
    * AFTER_SEQUENCE_NUMBER past a checkpoint (sequence.go:74-89). The
    * iterator-type goes through the builder's String overload so no
    * SDK enum class needs loading.
    */
  override def getShardIterator(streamName: String, shardId: String,
      afterSequence: Option[String]): String = {
    val base = Seq[(String, AnyRef)](
      "streamName" -> streamName, "shardId" -> shardId)
    val fields = afterSequence match {
      case None => base :+ ("shardIteratorType" -> ("TRIM_HORIZON": AnyRef))
      case Some(seq) => base ++ Seq(
        "shardIteratorType" -> ("AFTER_SEQUENCE_NUMBER": AnyRef),
        "startingSequenceNumber" -> (seq: AnyRef))
    }
    str(rpc("getShardIterator", request("GetShardIteratorRequest", fields: _*)),
      "shardIterator")
  }

  /** ≈ GetRecords with Limit (kinesis.go:180-183). A null
    * nextShardIterator means the shard is closed and drained — the
    * reader's delete-checkpoint-and-stop signal (kinesis.go:203-210).
    */
  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    val resp = rpc("getRecords", request("GetRecordsRequest",
      "shardIterator" -> iterator, "limit" -> Int.box(limit)))
    val recs = call(resp, "records").asInstanceOf[java.util.List[AnyRef]]
    val out = Vector.newBuilder[ClientRecord]
    recs.forEach { r =>
      val bytes = call(call(r, "data"), "asByteArray").asInstanceOf[Array[Byte]]
      val arrival = call(r, "approximateArrivalTimestamp") match {
        case i: java.time.Instant => Timestamp.from(i)
        case _ => new Timestamp(0L)
      }
      out += ClientRecord(bytes, str(r, "partitionKey"), str(r, "sequenceNumber"), arrival)
    }
    GetRecordsResult(out.result(), Option(str(resp, "nextShardIterator")))
  }

  /** ≈ PutRecord (producer side, for the engine's sink). */
  override def putRecord(streamName: String, partitionKey: String,
      data: Array[Byte]): String = {
    val sdkBytes = callStatic("software.amazon.awssdk.core.SdkBytes",
      "fromByteArray", data)
    str(rpc("putRecord", request("PutRecordRequest",
      "streamName" -> streamName, "partitionKey" -> partitionKey,
      "data" -> sdkBytes)), "sequenceNumber")
  }

  /** ≈ PutRecords — ONE RPC for up to 500 records (the AWS batch
    * limit). Per-record outcomes come from the response's result
    * entries (sequenceNumber XOR errorCode); a whole-call throughput
    * throttle still rides [[rpc]]'s bounded backoff, per-record
    * throttles surface as failed entries for the CALLER to retry
    * ([[KinesisBatchSink]] retries only the failed subset — AWS
    * PutRecords semantics).
    */
  override def putRecords(streamName: String,
      records: Seq[(String, Array[Byte])]): Seq[PutResult] = {
    require(records.size <= 500, s"PutRecords caps at 500/call, got ${records.size}")
    if (records.isEmpty) return Seq.empty
    val entries = new java.util.ArrayList[AnyRef](records.size)
    records.foreach { case (key, data) =>
      val sdkBytes = callStatic("software.amazon.awssdk.core.SdkBytes",
        "fromByteArray", data)
      entries.add(request("PutRecordsRequestEntry",
        "partitionKey" -> key, "data" -> sdkBytes))
    }
    val resp = rpc("putRecords", request("PutRecordsRequest",
      "streamName" -> streamName, "records" -> entries))
    val out = Vector.newBuilder[PutResult]
    call(resp, "records").asInstanceOf[java.util.List[AnyRef]].forEach { e =>
      out += PutResult(Option(str(e, "sequenceNumber")), Option(str(e, "errorCode")))
    }
    out.result()
  }

  /** Metadata-only scan cutting a deterministic admission-controlled
    * end offset: iterate GetRecords from the position, counting
    * sequence numbers only, until `maxRecords` are seen, the shard
    * drains (null next iterator → closed), the iterator reports caught
    * up (empty batch at millisBehindLatest==0), or the hop cap lands.
    * The hop cap bounds planner latency across empty iterator regions
    * (aged-out data): a capped scan yields a smaller batch, never a
    * wrong one — the next micro-batch continues from wherever this
    * offset cut. One exception to size for: Trigger.AvailableNow's
    * tail capture calls this with maxRecords=Int.MaxValue, so a
    * deep-backfill shard needs `metadatascanhops` ≥ backlog/10k or the
    * captured tail (and therefore the backfill) stops early.
    */
  override def sequenceAfter(streamName: String, shardId: String,
      afterSequence: Option[String], maxRecords: Int): (Option[String], Boolean) = {
    val maxHops = intOpt("metadatascanhops", 1000)
    var it: String =
      try getShardIterator(streamName, shardId, afterSequence)
      catch { case _: ExpiredIteratorException => null }
    var last = afterSequence
    var seen = 0
    var closed = false
    var hops = 0
    while (it != null && seen < maxRecords && hops < maxHops) {
      val resp =
        try rpc("getRecords", request("GetRecordsRequest",
          "shardIterator" -> it, "limit" -> Int.box(math.min(10000, maxRecords - seen))))
        catch {
          case _: ExpiredIteratorException =>
            // refresh from the last counted sequence and retry — the
            // planner-side twin of the reader's bounded refresh
            // (kinesis.go:184-191); costs a hop so expiry storms
            // terminate at the hop cap with a valid shorter offset.
            it = getShardIterator(streamName, shardId, last)
            hops += 1
            null
        }
      if (resp != null) {
        val recs = call(resp, "records").asInstanceOf[java.util.List[AnyRef]]
        if (!recs.isEmpty) {
          last = Some(str(recs.get(recs.size() - 1), "sequenceNumber"))
          seen += recs.size()
        }
        val next = str(resp, "nextShardIterator")
        val behind = call(resp, "millisBehindLatest") match {
          case l: java.lang.Long => l.longValue(); case _ => Long.MaxValue
        }
        if (next == null) { closed = true; it = null }
        else if (recs.isEmpty && behind == 0L) it = null // caught up
        else it = next
        hops += 1
      }
    }
    (last, closed)
  }
}

object AwsKinesisClient {
  /** One SDK client per (JVM, configuration) — executors reuse it
    * across tasks and batches.
    */
  private val clientCache = new ConcurrentHashMap[String, AnyRef]()

  /** Test/ops hook: drop cached clients (e.g. after rotating
    * credentials or re-pointing `endpoint`). SDK clients own HTTP
    * connection pools, so each is close()d (reflectively, best-effort)
    * before the reference is dropped — clearing alone would leak the
    * pools until GC finalization.
    */
  def resetClientCache(): Unit = {
    clientCache.values().forEach { c =>
      try call(c, "close") catch { case _: Throwable => () }
    }
    clientCache.clear()
  }

  private def rootCause(e: Throwable): Throwable = e match {
    case ite: InvocationTargetException if ite.getCause != null => rootCause(ite.getCause)
    case _ => e
  }

  private def compatible(m: Method, args: Seq[AnyRef]): Boolean =
    m.getParameterCount == args.length &&
      m.getParameterTypes.zip(args).forall { case (p, a) =>
        a == null || p.isInstance(a) ||
          (p == classOf[Int] && a.isInstanceOf[java.lang.Integer]) ||
          (p == classOf[Long] && a.isInstanceOf[java.lang.Long]) ||
          (p == classOf[Boolean] && a.isInstanceOf[java.lang.Boolean])
      }

  /** Invoke a public instance method by name + argument compatibility
    * (resolves builder setter overloads, e.g. `shardIteratorType`'s
    * String vs enum variants, by the actual argument types).
    * setAccessible(true) because SDK impl classes (Default*Builder,
    * Default*Client) are package-private behind public interfaces.
    */
  private[kinesis] def call(target: AnyRef, name: String, args: AnyRef*): AnyRef = {
    val m = target.getClass.getMethods
      .find(m => m.getName == name && compatible(m, args))
      .getOrElse(throw new NoSuchMethodException(
        s"${target.getClass.getName}.$name(${args.map(a => if (a == null) "null" else a.getClass.getSimpleName).mkString(",")})"))
    try m.setAccessible(true) catch { case _: Throwable => () }
    m.invoke(target, args: _*)
  }

  /** Invoke a static method (SDK static factories: `builder()`,
    * `Region.of`, `SdkBytes.fromByteArray`, …). Scala-object static
    * forwarders resolve identically, which is what lets the test stub
    * stand in for the SDK.
    */
  private[kinesis] def callStatic(className: String, name: String, args: AnyRef*): AnyRef = {
    val cls = Class.forName(className)
    val m = cls.getMethods
      .find(m => m.getName == name && compatible(m, args))
      .getOrElse(throw new NoSuchMethodException(s"$className.$name/${args.length}"))
    m.invoke(null, args: _*)
  }
}
