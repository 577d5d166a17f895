package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

/** S8/S10 — environment/config sourcing and API readiness.
  *
  * S8 (ref ingest.py:37-55, generator.py:79-90): `.env` discovery
  * walking up from the working directory (dotenv's usecwd behavior),
  * parsed as KEY=VALUE lines; process environment wins over file values
  * (dotenv default: existing env not overridden). The reference's five
  * DB variables + FILE_SERVER_URL resolve through here.
  *
  * S10 (ref dataloader.py:196-221): poll a URL until HTTP 200 or the
  * retry budget runs out — the legacy API-mode readiness gate.
  */
object EnvConfig {

  def parseDotenv(text: String): Map[String, String] =
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.take(i).trim -> stripQuotes(l.drop(i + 1).trim)
      }.toMap

  private def stripQuotes(v: String): String =
    if (v.length >= 2 && ((v.head == '"' && v.last == '"') ||
      (v.head == '\'' && v.last == '\''))) v.substring(1, v.length - 1)
    else v

  /** find_dotenv(usecwd=True): nearest `.env` walking up from `start`. */
  def findDotenv(start: Path = Paths.get(".").toAbsolutePath): Option[Path] =
    Iterator.iterate(start.normalize)(p => p.getParent)
      .takeWhile(_ != null)
      .map(_.resolve(".env"))
      .find(Files.isRegularFile(_))

  /** load: file values overlaid by the process environment (env wins). */
  def load(start: Path = Paths.get(".").toAbsolutePath,
           env: Map[String, String] = sys.env): Map[String, String] = {
    val fileVals = findDotenv(start)
      .map(p => parseDotenv(Files.readString(p))).getOrElse(Map.empty)
    fileVals ++ env
  }

  /** DB DSN assembly with fail-fast on missing variables
    * (ingest.py:37-55).
    */
  def pgDsn(cfg: Map[String, String]): String = {
    val keys = Seq("POSTGRES_USER", "POSTGRES_PASSWORD", "POSTGRES_HOST",
      "POSTGRES_PORT", "POSTGRES_DB")
    val missing = keys.filterNot(cfg.contains)
    require(missing.isEmpty, s"Missing environment variables: $missing")
    val Seq(u, pw, h, p, db) = keys.map(cfg)
    s"postgresql://$u:$pw@$h:$p/$db"
  }

  /** wait_for_api: poll until 200; true on success, false when the
    * retry budget is exhausted (dataloader.py:196-221: 30 × 10 s by
    * default — parameterized here so tests don't sleep).
    */
  def waitForApi(url: String, retries: Int = 30, delayMs: Long = 10000,
                 client: HttpClient = HttpClient.newHttpClient()): Boolean = {
    val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
    (0 until retries).exists { i =>
      val ok =
        try client.send(req, HttpResponse.BodyHandlers.discarding())
          .statusCode() == 200
        catch { case _: Exception => false }
      if (!ok && i < retries - 1) Thread.sleep(delayMs)
      ok
    }
  }
}
