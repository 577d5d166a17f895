package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.Json
import graft.model.{StacCollection, StacItem}
import graft.sink.StacJsonSink

/** Entry point 2 — `envstacgen ingest` (ref cli.py:55-66 →
  * ingest.py:11-65 → dataloader.py:102-194): load a generated STAC
  * catalog tree into pgSTAC with insert-vs-upsert semantics and
  * existence-based skip.
  *
  * The reference probes the DB once per entity (`SELECT EXISTS` per
  * collection/item — an N+1 the docstring itself complains about,
  * dataloader.py:22-25). Here existence is fetched ONCE as key sets and
  * the skip becomes a set-oriented anti-join (J3); writes are batched
  * per partition in FK order — collections before items
  * (dataloader.py:173-189).
  *
  * [[PgStacClient]] is the seam: `JdbcPgStacClient` for a real
  * PostgreSQL (driver must be on the executor classpath), an in-memory
  * fake in the tests — the environment here has no database, so the
  * tested contract is key fetching + skip logic + exact SQL text.
  */
object Ingest {

  trait PgStacClient extends Serializable {
    def existingCollectionIds(): Set[String]
    def existingItemKeys(): Set[(String, String)] // (collection, id)
    def execBatch(statements: Seq[String]): Unit
    /** Existing item keys as a DataFrame. The skip anti-join consumes
      * THIS — never a driver-side Set — so a pgSTAC with 10⁹ items
      * streams through executors instead of materializing on the
      * driver. Default adapts the Set for small/dry-run backends; the
      * JDBC client overrides with a partitioned server-side read.
      */
    def existingItemKeysDF(spark: SparkSession): org.apache.spark.sql.DataFrame = {
      val sp = spark
      import sp.implicits._
      spark.createDataset(existingItemKeys().toSeq).toDF("collection", "id")
    }
  }

  final case class Result(collectionsLoaded: Long, itemsLoaded: Long,
                          collectionsSkipped: Long, itemsSkipped: Long)

  def run(spark: SparkSession, catalogRoot: String, client: PgStacClient,
          overwrite: Boolean = false): Result =
    Preprocess.restoringJobDescription(spark) {
      val sc = spark.sparkContext
      sc.setJobDescription("ingest: catalog read")
      val collections = StacJsonSink.readCollections(spark, catalogRoot).collect()
      val items = StacJsonSink.readItems(spark, catalogRoot)

      // J3 — skip-existing unless overwrite (dataloader.py:138-154).
      // Legacy API mode probes per entity (dataloader.py:66-69); DB mode
      // fetches the id set once.
      val (collsToLoad, collsSkipped) =
        if (overwrite) (collections.toSeq, Seq.empty)
        else {
          val exists: String => Boolean = client match {
            case api: ApiModeClient => api.collectionExists
            case _ =>
              val ids = client.existingCollectionIds(); ids.contains
          }
          collections.toSeq.partition(c => !exists(c.id))
        }

      // FK order: collections first (dataloader.py:173)
      sc.setJobDescription("ingest: load")
      client.execBatch(collsToLoad.map(collectionSql(_, overwrite)))

      val ow = overwrite
      val loaded = sc.longAccumulator("items_loaded")
      val skipped = sc.longAccumulator("items_skipped")
      if (overwrite) {
        items.foreachPartition { part: Iterator[StacItem] =>
          val stmts = part.map(itemSql(_, ow)).toSeq
          if (stmts.nonEmpty) client.execBatch(stmts)
          loaded.add(stmts.size)
        }
      } else client match {
        case api: ApiModeClient =>
          // Legacy API mode: the reference's per-item GET probe
          // (dataloader.py:88-91, its own docstring calls it "much
          // slower") — kept for drop-in parity, but the N+1 requests run
          // from executor tasks in parallel rather than one driver loop,
          // and each partition still batches its writes.
          items.foreachPartition { part: Iterator[StacItem] =>
            val stmts = scala.collection.mutable.ArrayBuffer.empty[String]
            part.foreach { it =>
              if (api.itemExists(it.collection, it.id)) skipped.add(1)
              else stmts += itemSql(it, ow)
            }
            if (stmts.nonEmpty) api.execBatch(stmts.toSeq)
            loaded.add(stmts.size)
          }
        case _ =>
        // J3 as a distributed join: existing keys come in as a relation
        // (JDBC partitioned read for a real pgSTAC), never a collected
        // Set. No broadcast hint — AQE broadcasts when the key side turns
        // out small and shuffles when it doesn't, which is exactly the
        // scale behavior wanted at 10⁹ existing items. A MARKED left-outer
        // join (null right = not yet in pgSTAC) instead of an anti-join
        // lets ONE action both write the new items and count the skipped
        // ones — the previous shape re-ran the catalog scan and the join
        // twice more just for `items.count() - toLoad.count()`. Key
        // uniqueness ((collection, id) is the pgSTAC primary key) means
        // the join cannot fan out.
        val existing = client.existingItemKeysDF(spark)
          .select("collection", "id")
        val marked = items.joinWith(existing,
          items("collection") === existing("collection") &&
            items("id") === existing("id"), "left_outer")
        marked.foreachPartition {
          part: Iterator[(StacItem, org.apache.spark.sql.Row)] =>
            val stmts = scala.collection.mutable.ArrayBuffer.empty[String]
            part.foreach { case (it, ex) =>
              if (ex == null) stmts += itemSql(it, ow) else skipped.add(1)
            }
            if (stmts.nonEmpty) client.execBatch(stmts.toSeq)
            loaded.add(stmts.size)
        }
      }
      Result(collsToLoad.size.toLong, loaded.value,
        collsSkipped.size.toLong, skipped.value)
    }

  /** pgSTAC collection load: insert, or upsert when overwrite —
    * `Methods.upsert` vs `Methods.insert` (dataloader.py:171).
    */
  def collectionSql(c: StacCollection, overwrite: Boolean): String = {
    val content = Json.obj(Seq(
      "id" -> Json.quote(c.id),
      "title" -> Json.quote(c.title),
      "description" -> Json.quote(c.description),
      "license" -> Json.quote(c.license)))
    val conflict =
      if (overwrite) "ON CONFLICT (id) DO UPDATE SET content = EXCLUDED.content"
      else "ON CONFLICT (id) DO NOTHING"
    s"INSERT INTO collections (id, content) VALUES (${sqlQuote(c.id)}, " +
      s"${sqlQuote(content)}::jsonb) $conflict"
  }

  def itemSql(it: StacItem, overwrite: Boolean): String = {
    val content = Json.obj(Seq(
      "id" -> Json.quote(it.id),
      "collection" -> Json.quote(it.collection),
      "geometry" -> it.geometry,
      "bbox" -> it.bbox.map(Json.dbl).mkString("[", ",", "]"),
      "properties" -> Json.obj(
        it.properties.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.quote(v) })))
    val conflict =
      if (overwrite)
        "ON CONFLICT (id, collection) DO UPDATE SET content = EXCLUDED.content"
      else "ON CONFLICT (id, collection) DO NOTHING"
    s"INSERT INTO items (id, collection, datetime, content) VALUES (" +
      s"${sqlQuote(it.id)}, ${sqlQuote(it.collection)}, " +
      s"${sqlQuote(it.datetime)}::timestamptz, ${sqlQuote(content)}::jsonb) " +
      conflict
  }

  /** SQL string literal: single quotes doubled (no driver param binding
    * in the batch path, so escaping is on us).
    */
  def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The `hashtext`-sliced partition predicates for the distributed key
    * read. The separator is `chr(1)` — computed by PostgreSQL, never
    * embedded in the literal — because pg rejects NUL (0x00) inside
    * string literals (`invalid byte sequence for encoding "UTF8"`), and
    * any raw control byte makes the SQL text fragile in transit. Each
    * row matches exactly one predicate for ANY separator, so the choice
    * only shapes hash balance, never coverage.
    */
  def keyReadPredicates(n: Int): Array[String] =
    Array.tabulate(n)(i =>
      s"abs(hashtext(collection || chr(1) || id)) % $n = $i")

  /** Dry-run client: pre-seeded key sets, statements counted but not
    * executed anywhere — the `--dry-run` analogue for validating an
    * ingest (what loads, what skips, what SQL) without a database.
    * Counters are JVM-static, valid in local mode.
    */
  final class DryRunClient(colls: Set[String], items: Set[(String, String)])
      extends PgStacClient {
    def existingCollectionIds(): Set[String] = colls
    def existingItemKeys(): Set[(String, String)] = items
    def execBatch(statements: Seq[String]): Unit =
      DryRunClient.statements.addAndGet(statements.size)
  }
  object DryRunClient {
    val statements = new java.util.concurrent.atomic.AtomicLong()
    def reset(): Unit = statements.set(0)
  }

  /** Real pgSTAC client over plain JDBC (needs the PostgreSQL driver on
    * the classpath; matches the reference's direct-DB fast path,
    * dataloader.py:54-100).
    */
  final class JdbcPgStacClient(url: String) extends PgStacClient {
    private def withConn[T](f: java.sql.Connection => T): T = {
      val c = java.sql.DriverManager.getConnection(url)
      try f(c) finally c.close()
    }
    def existingCollectionIds(): Set[String] = withConn { c =>
      val rs = c.createStatement().executeQuery("SELECT id FROM collections")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSet
    }
    def existingItemKeys(): Set[(String, String)] = withConn { c =>
      val rs = c.createStatement()
        .executeQuery("SELECT collection, id FROM items")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), r.getString(2))).toSet
    }
    /** Partitioned executor-side key read: each task issues its own
      * `hashtext`-sliced predicate, so no single JVM ever holds the full
      * key set (the driver holds only the 16 predicate strings).
      */
    override def existingItemKeysDF(spark: SparkSession)
        : org.apache.spark.sql.DataFrame = {
      val n = math.min(spark.sparkContext.defaultParallelism, 16)
      val predicates = keyReadPredicates(n)
      spark.read.jdbc(url,
        "(SELECT collection, id FROM items) AS existing_keys",
        predicates, new java.util.Properties())
    }
    def execBatch(statements: Seq[String]): Unit = withConn { c =>
      val st = c.createStatement()
      statements.foreach(st.addBatch)
      st.executeBatch()
    }
  }

  /** One HTTP GET, returning the status code — the seam the API-mode
    * existence probes go through (a stub server in tests, the JDK client
    * in production). Connection failures PROPAGATE: the reference's
    * `requests.get` raises on an unreachable API mid-ingest
    * (dataloader.py:68,90 have no handler), and mapping that to "404 ⇒
    * load everything again" would silently violate the skip contract.
    */
  trait StacApiProbe extends Serializable {
    def getStatus(url: String): Int
  }

  final class HttpStacApiProbe extends StacApiProbe {
    @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
    def getStatus(url: String): Int =
      client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  /** S9/S10 legacy leg — API-mode existence probes
    * (dataloader.py:54-100): when a `stac_api_url` is configured, a
    * collection exists iff `GET {base}/collections/{id}` is 200 and an
    * item iff `GET {base}/collections/{cid}/items/{iid}` is 200; writes
    * still execute through the wrapped DB-side client (API mode in the
    * reference changes only the probes — loads remain pypgstac,
    * dataloader.py:171-189). The reference itself deprecates this path
    * ("much slower than direct database queries", dataloader.py:22-25);
    * it exists here for drop-in parity. Construct via
    * [[ApiModeClient.connect]], which runs the readiness gate.
    */
  final class ApiModeClient(apiUrl: String, probe: StacApiProbe,
                            writes: PgStacClient) extends PgStacClient {
    private val base = apiUrl.stripSuffix("/") // dataloader.py:48
    def collectionExists(id: String): Boolean =
      probe.getStatus(s"$base/collections/$id") == 200
    def itemExists(collection: String, id: String): Boolean =
      probe.getStatus(s"$base/collections/$collection/items/$id") == 200
    // the API surface cannot enumerate the whole store; run() routes
    // around these in API mode — reaching one is a wiring bug
    def existingCollectionIds(): Set[String] =
      throw new UnsupportedOperationException("API mode probes per entity")
    def existingItemKeys(): Set[(String, String)] =
      throw new UnsupportedOperationException("API mode probes per entity")
    def execBatch(statements: Seq[String]): Unit = writes.execBatch(statements)
  }

  object ApiModeClient {
    /** The readiness gate at construction (dataloader.py:47-51): poll
      * the API root until HTTP 200; the reference `exit(1)`s when the
      * budget runs out — surfaced here as an exception.
      */
    def connect(apiUrl: String, writes: PgStacClient,
                probe: StacApiProbe = new HttpStacApiProbe,
                retries: Int = 30, delayMs: Long = 10000): ApiModeClient = {
      val up = (0 until retries).exists { i =>
        val ok =
          try probe.getStatus(apiUrl) == 200
          catch { case _: Exception => false } // dataloader.py:216-218
        if (!ok && i < retries - 1) Thread.sleep(delayMs)
        ok
      }
      if (!up) throw new IllegalStateException(
        s"STAC API not available after $retries attempts: $apiUrl")
      new ApiModeClient(apiUrl, probe, writes)
    }
  }
}
