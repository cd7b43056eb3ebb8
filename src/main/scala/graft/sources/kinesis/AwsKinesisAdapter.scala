package graft.sources.kinesis

/** RPC mapping contract for the production AWS adapter.
  *
  * The AWS SDK is deliberately NOT a compile-time dependency of this
  * build; [[AwsKinesisClient]] implements this mapping by reflection
  * against the SDK for Java v2 (`software.amazon.awssdk.services
  * .kinesis`) — the same API surface the Go reference drives through
  * `aws-sdk-go-v2` (kinesis.go:45-52) — and AwsKinesisClientSpec proves
  * the binding end-to-end against an API-shaped stub. This object holds
  * the construction and error contract and the reflective surface.
  *
  * == Construction (configure) ==
  *
  * `configure(options)` receives the DSv2 source options (lower-cased
  * keys). The reference's `Option.GetConfig` (option.go:36-43) maps as:
  *
  *  - `region`  → `KinesisClient.builder().region(Region.of(region))`
  *    (option.go:38 `config.WithRegion`)
  *  - `sts=true` → resolve credentials through the configured profile /
  *    STS assume-role provider chain instead of the default chain
  *    (option.go:39-41 `config.WithSharedConfigProfile` — the Go
  *    reference toggles a shared-config STS profile; the v2 Java
  *    equivalent is `ProfileCredentialsProvider` or
  *    `StsAssumeRoleCredentialsProvider` on the client builder)
  *  - one client per executor, cached — the reference constructs a new
  *    client per call site (kinesis.go:60, 115, 159), an anti-pattern
  *    SURVEY.md §4 explicitly does not replicate.
  *
  * == Method mapping ==
  *
  * [[KinesisLikeClient]]'s scaladoc maps each method to the RPC it
  * wraps and its reference line; [[clientRpcs]] is the RPC table
  * `AwsKinesisClient.validate()` checks. `sequenceAfter` is the only
  * method without a 1:1 RPC: it is a bounded metadata scan —
  * `getShardIterator` at the position followed by
  * `getRecords(limit = maxRecords)` reading only
  * `sequenceNumber`s (and `millisBehindLatest`) to cut a deterministic
  * admission-controlled end offset for the micro-batch planner.
  * Adapters for services with a native "tail sequence" API can answer
  * it in one call.
  *
  * == Error mapping ==
  *
  *  - `ExpiredIteratorException` (SDK) → [[ExpiredIteratorException]]
  *    (this package) so the reader's refresh path engages
  *    (kinesis.go:184-191).
  *  - `ProvisionedThroughputExceededException` → retry with backoff
  *    inside the adapter; the planner's admission cap keeps steady-state
  *    under the 5 reads/s/shard service limit.
  */
object AwsKinesisAdapter {

  // ---- machine-readable reflective surface (version-skew armor) ----
  //
  // [[AwsKinesisClient]] binds the SDK by method NAME at runtime, so an
  // SDK minor-version rename would otherwise surface as a
  // NoSuchMethodException at FIRST USE in production — possibly days
  // after deploy, in whichever code path reaches the renamed member
  // first. These tables enumerate every name the adapter
  // resolves; `AwsKinesisClient.validate()` checks ALL of them against
  // the loaded classes at configure-time and reports every
  // missing/mismatched signature at once. AwsKinesisClientSpec asserts
  // the test stub satisfies the surface 1:1.

  /** Client RPCs the adapter invokes (each takes exactly the matching
    * `<Name>Request`): every [[KinesisLikeClient]] method but the
    * composite `sequenceAfter`, with `streamStatus` reading
    * `describeStreamSummary`.
    */
  val clientRpcs: Seq[String] = Seq("listShards", "describeStreamSummary",
    "getShardIterator", "getRecords", "putRecord", "putRecords")

  /** Request model class (under `<pkg>.model`) → the 1-arg builder
    * setters the adapter chains. Every class additionally needs a
    * static `builder()` and the builder an instance `build()`.
    */
  val requestSetters: Map[String, Seq[String]] = Map(
    "ListShardsRequest" -> Seq("streamName", "nextToken"),
    "DescribeStreamSummaryRequest" -> Seq("streamName"),
    "GetShardIteratorRequest" -> Seq("streamName", "shardId",
      "shardIteratorType", "startingSequenceNumber"),
    "GetRecordsRequest" -> Seq("shardIterator", "limit"),
    "PutRecordRequest" -> Seq("streamName", "partitionKey", "data"),
    "PutRecordsRequestEntry" -> Seq("partitionKey", "data"),
    "PutRecordsRequest" -> Seq("streamName", "records"))

  /** Response/model class → the 0-arg accessors the adapter reads,
    * each with its expected RETURN type. Names containing a dot are
    * absolute (core classes outside the kinesis package); the rest live
    * under `<pkg>.model`. The return type is the piece of the surface a
    * name/arity check cannot see: an SDK minor version that
    * keeps a member's name but changes its type (e.g.
    * `millisBehindLatest(): Long` → `String`) would pass resolution
    * and then fail as a ClassCastException at first use.
    * `AwsKinesisClient.validate()` matches each accessor's declared
    * return type against these (by fully-qualified OR simple name, so
    * the offline stub and the real SDK both satisfy them; overloads
    * pass if ANY candidate matches). Types are the SDK v2 javadoc's.
    */
  val responseAccessorTypes: Map[String, Map[String, String]] = Map(
    "ListShardsResponse" -> Map(
      "shards" -> "java.util.List", "nextToken" -> "java.lang.String"),
    "Shard" -> Map(
      "shardId" -> "java.lang.String", "parentShardId" -> "java.lang.String",
      "sequenceNumberRange" -> "SequenceNumberRange",
      "adjacentParentShardId" -> "java.lang.String"),
    "SequenceNumberRange" -> Map("endingSequenceNumber" -> "java.lang.String"),
    "DescribeStreamSummaryResponse" -> Map(
      "streamDescriptionSummary" -> "StreamDescriptionSummary"),
    "StreamDescriptionSummary" -> Map(
      "streamStatusAsString" -> "java.lang.String"),
    "GetShardIteratorResponse" -> Map("shardIterator" -> "java.lang.String"),
    "GetRecordsResponse" -> Map(
      "records" -> "java.util.List",
      "nextShardIterator" -> "java.lang.String",
      "millisBehindLatest" -> "java.lang.Long"),
    "Record" -> Map(
      "data" -> "SdkBytes", "partitionKey" -> "java.lang.String",
      "sequenceNumber" -> "java.lang.String",
      "approximateArrivalTimestamp" -> "java.time.Instant"),
    "PutRecordResponse" -> Map("sequenceNumber" -> "java.lang.String"),
    "PutRecordsResponse" -> Map("records" -> "java.util.List"),
    "PutRecordsResultEntry" -> Map(
      "sequenceNumber" -> "java.lang.String", "errorCode" -> "java.lang.String"),
    "software.amazon.awssdk.core.SdkBytes" -> Map("asByteArray" -> "[B"))
}
