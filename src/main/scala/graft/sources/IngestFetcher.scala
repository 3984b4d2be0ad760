package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Driver-side ingest adapter seam (SURVEY §2.A S-1/S-6/S-7).
  *
  * The reference fetches its raw inputs over the network — WARC
  * segments via streamed HTTP GET (scripts/extract_commoncrawl.py:53-77)
  * and the CKAN catalog + ABR bulk ZIPs via a JSON API
  * (scripts/extract_abr.py:33-54). Those fetches are driver/edge
  * concerns, not engine operators: every operator in this engine reads
  * staged files (`binaryFile` / parquet / XML globs), so swapping WHERE
  * bytes come from must not touch any operator.
  *
  * This trait is that seam. [[stage]] materializes remote objects into
  * a local/shared staging directory and returns the staged paths — the
  * natural producer for [[AbrZip.readZipped]], [[Warc.read]] globs, and
  * the S-3 processed-files ledger. The sandbox has no egress, so the
  * shipped implementation is filesystem-backed; an HTTP implementation
  * is ~10 lines of `java.net.http.HttpClient` against the same
  * contract (GET uri → bytes, retry/back-off at the caller's policy).
  * At 100 TB the staging directory is object storage and `stage`
  * becomes a manifest copy — the operator side is unchanged.
  */
trait IngestFetcher {

  /** Fetch one object's bytes. */
  def fetch(uri: String): Array[Byte]

  /** Stage `uris` under `destDir` (created if absent); returns the
    * staged local paths in input order. File names are
    * collision-namespaced: a hash of the full source URI prefixes the
    * base name. */
  def stage(uris: Seq[String], destDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(destDir))
    uris.map { uri =>
      val base = uri.split('/').lastOption.filter(_.nonEmpty).getOrElse("object")
      val target = Paths.get(destDir, f"s${uri.hashCode & 0xffffffffL}%08x_$base")
      Files.write(target, fetch(uri))
      target.toString
    }
  }
}

/** HTTP(S)-backed fetcher over the JDK client — the transport the
  * reference ingests with (streamed GET for WARC segments,
  * scripts/extract_commoncrawl.py:53-77; ZIP download,
  * scripts/extract_abr.py:33-60). One synchronous GET per object;
  * concurrency comes from the caller staging many objects across Spark
  * tasks, and retry/back-off policy likewise belongs to the caller.
  * IngestHttpSpec drives the full S-6→S-1 and S-7→S-4 ingest chains
  * through this fetcher against a loopback server. */
final class HttpFetcher(
    timeout: java.time.Duration = java.time.Duration.ofSeconds(30))
    extends IngestFetcher {
  private val client = java.net.http.HttpClient.newBuilder()
    // public data hosts answer 301/302 (http→https, CDN moves); the JDK
    // default is NEVER, which would fail every redirecting URL
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .connectTimeout(timeout).build()

  override def fetch(uri: String): Array[Byte] = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(uri))
      .timeout(timeout).GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"GET $uri returned HTTP ${resp.statusCode()}")
    resp.body()
  }
}

/** Filesystem-backed fetcher: `uri` is a local path (optionally
  * `file:`-prefixed). Stands in for the HTTP fetcher in environments
  * without egress and for tests. */
object LocalFileFetcher extends IngestFetcher {
  override def fetch(uri: String): Array[Byte] =
    Files.readAllBytes(Paths.get(uri.stripPrefix("file:")))

  /** Local staging can hard-link-free copy instead of read+write. */
  override def stage(uris: Seq[String], destDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(destDir))
    uris.map { uri =>
      val src = Paths.get(uri.stripPrefix("file:"))
      val target = Paths.get(destDir,
        f"s${uri.hashCode & 0xffffffffL}%08x_${src.getFileName.toString}")
      Files.copy(src, target, StandardCopyOption.REPLACE_EXISTING)
      target.toString
    }
  }
}
