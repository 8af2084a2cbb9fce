package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Contract tests against the LIVE driver-generated parquet, not fixtures.
  *
  * The driver regenerates /root/testdata between rounds and has already
  * changed a physical type once (events.ts TIMESTAMP(NANOS) → micros/no-tz
  * between r10 and r11), which broke every `unix_micros` consumer while the
  * whole fixture-based suite stayed green (ADVICE r11). These tests bind the
  * suite to the real files so a regeneration that shifts a schema fails HERE,
  * loudly, before the driver's correctness gate ever runs.
  */
class SchemaContractSpec extends SparkSpec {

  test("events.ts normalizes to TimestampType at every scale factor") {
    for (dir <- Seq(sf001, sf01, sf1)) {
      assumeTestdata(dir)
      val dt = Tables.events(spark, dir).schema("ts").dataType
      assert(dt == TimestampType, s"$dir/events.parquet ts normalized to $dt")
      assert(dt != TimestampNTZType && dt != LongType)
    }
  }

  test("documents doc_id stays below DedupCorpus.ExactDupOffset at every scale factor") {
    // SourceOverlap.baseId (and every augment offset) assumes base ids fit
    // under ExactDupOffset; a driver regeneration with larger ids would
    // mis-strip offsets and corrupt HT weights IDENTICALLY in Spark and the
    // oracle, so the hash gate would stay green on wrong estimates
    // (ADVICE r12). Fail loudly here instead.
    import org.apache.spark.sql.functions.max
    for (dir <- Seq(sf001, sf01, sf1)) {
      assumeTestdata(dir)
      val maxId = spark.read.parquet(s"$dir/documents.parquet")
        .agg(max("doc_id")).collect()(0).getLong(0)
      assert(maxId < graft.dedup.DedupCorpus.ExactDupOffset,
        s"$dir/documents.parquet max(doc_id)=$maxId >= " +
          s"ExactDupOffset=${graft.dedup.DedupCorpus.ExactDupOffset}: " +
          "augment id offsets and SourceOverlap HT weights are invalid")
    }
  }

  test("events.ts instants survive normalization (epoch micros match raw file)") {
    // Read one row's raw micros with no session help and compare against the
    // normalized loader under the harness's pinned UTC session timezone — a
    // wrong-timezone cast would preserve the type but shift every instant.
    import org.apache.spark.sql.functions._
    val normalized = Tables.events(spark, sf001)
      .orderBy("event_id").limit(1)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect()(0)
    val raw = spark.read.parquet(s"$sf001/events.parquet")
      .orderBy("event_id").limit(1)
      .select(col("event_id"), col("ts").cast("string").as("s"))
      .collect()(0)
    assert(normalized.getLong(0) == raw.getLong(0))
    val expected = java.time.LocalDateTime
      .parse(raw.getString(1).replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)
    val got = java.time.Instant.EPOCH.plus(
      normalized.getLong(1), java.time.temporal.ChronoUnit.MICROS)
    assert(got == expected, s"instant shifted: $got vs $expected")
  }

  test("every declared query analyzes against the live testdata schema") {
    // The shared CatalogSweep forces .schema — full analysis (resolution +
    // type checking) — on every query, so a DATATYPE_MISMATCH or
    // missing-column error from a regenerated table surfaces for ALL of
    // them at once. Execution correctness is the DuckDB oracle gate;
    // this is the early tripwire.
    assumeTestdata(sf001)
    val failures = CatalogSweep.rows.flatMap(r =>
      r.analysis.left.toOption.map(e => s"${r.name}: ${e.take(200)}"))
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("Bench.HeadlineNames are real declared queries (no dead keys on the driver line)") {
    // the compact final stdout line filters by resultMap.contains, so a
    // renamed query would silently vanish from the driver's parsed
    // headline subset — fail the suite instead (the tinyRowParts
    // dead-key tripwire discipline)
    val unknown = graft.Bench.HeadlineNames.filterNot(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
  }
}
