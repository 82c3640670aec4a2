package graft.ingest

import org.apache.spark.sql.Dataset

/** S6 — REST geocoding enrichment (`1c. Look for provider
  * locations.R:139-216, 260-345`): the reference calls a places API
  * per provider, capturing failures as explicit "fail" rows rather
  * than aborting (`search_postcode_google_catch`).
  *
  * Spark shape: `mapPartitions` over the (small) provider dimension —
  * one client per partition, bounded fan-out, every row produces
  * exactly one result row with `status` either "OK"/"ZERO_RESULTS" or
  * the failure message. The HTTP client sits behind [[GeocodeClient]]
  * so tests (and this zero-egress environment) inject a deterministic
  * fake; a real implementation is a drop-in.
  */
object Geocoder {

  final case class GeocodeRequest(code: String, postcode: String, name: String)

  final case class GeocodeResult(code: String, postcode: String,
      status: String, number_results: Int, lat: Double, lon: Double,
      address: String)

  /** The stubbed service boundary: implementations may do real HTTP;
    * MUST be total (capture errors in the result, don't throw). */
  trait GeocodeClient extends Serializable {
    def lookup(req: GeocodeRequest): GeocodeResult
  }

  /** Deterministic offline fake: hashes the postcode into a plausible
    * UK-ish coordinate; empty postcode -> ZERO_RESULTS (the
    * reference's null-postcode path, `1c.:133-135`). */
  final class FakeClient extends GeocodeClient {
    def lookup(r: GeocodeRequest): GeocodeResult =
      if (r.postcode == null || r.postcode.trim.isEmpty)
        GeocodeResult(r.code, r.postcode, "ZERO_RESULTS", 0, Double.NaN,
          Double.NaN, null)
      else {
        val h = r.postcode.hashCode
        GeocodeResult(r.code, r.postcode, "OK", 1,
          50.0 + math.abs(h % 1000) / 100.0,
          -5.0 + math.abs((h / 1000) % 1000) / 100.0,
          s"${r.name}, ${r.postcode}")
      }
  }

  /** Deterministic offline fake whose arithmetic is PORTABLE to the
    * DuckDB oracle (plain codepoint sums — `FakeClient`'s Java
    * `String.hashCode` is not SQL-friendly): lets the whole S6
    * mapPartitions enrichment run under the hash-match gate
    * (`q_s6_geocode`) instead of spec-only. */
  final class PortableFakeClient extends GeocodeClient {
    def lookup(r: GeocodeRequest): GeocodeResult =
      if (r.postcode == null || r.postcode.trim.isEmpty)
        GeocodeResult(r.code, r.postcode, "ZERO_RESULTS", 0, Double.NaN,
          Double.NaN, null)
      else {
        var s = 0L
        var i = 0
        while (i < r.postcode.length) { s += r.postcode.charAt(i); i += 1 }
        GeocodeResult(r.code, r.postcode, "OK", 1,
          50.0 + (s % 1000) / 100.0,
          -5.0 + ((s / 7) % 1000) / 100.0,
          s"${r.name}, ${r.postcode}")
      }
  }

  /** Wraps a client so ANY thrown error becomes a "fail" row — the
    * `_catch` semantics of the reference. */
  final class CatchingClient(inner: GeocodeClient) extends GeocodeClient {
    def lookup(r: GeocodeRequest): GeocodeResult =
      try inner.lookup(r)
      catch {
        case e: Exception =>
          GeocodeResult(r.code, r.postcode, s"FAIL: ${e.getMessage}", 0,
            Double.NaN, Double.NaN, null)
      }
  }

  /** Enrich a provider dimension with geocodes. Partition-local client
    * lifecycle; one output row per input row, failures inline. */
  def geocode(providers: Dataset[GeocodeRequest], client: GeocodeClient)
      : Dataset[GeocodeResult] = {
    import providers.sparkSession.implicits._
    val catching = new CatchingClient(client)
    providers.mapPartitions(_.map(catching.lookup))
  }
}
