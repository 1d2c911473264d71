package graft.lake.iceberg.rest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import scala.jdk.CollectionConverters._

import graft.lake.iceberg.{IceMeta, IcePartSpec, IceRef, IcebergMeta}

/** In-process implementation of the Apache Iceberg REST catalog protocol
  * (the endpoints [[IcebergRestCatalog]] documents) over
  * `com.sun.net.httpserver` — the bundled reference service for local dev
  * and the specs, the same pattern [[graft.lake.InMemoryCatalogServer]]
  * uses for graft's own protocol. A production deployment would back the
  * same API with a durable store (Polaris, Gravitino, Lakekeeper…); the
  * protocol seen by the engine is identical.
  *
  * Division of labor per the spec: the service owns table METADATA — it
  * materializes `metadata.json` versions under each table's
  * `metadata/` directory and arbitrates commits by validating
  * `requirements` under one lock — while engines write data files,
  * manifests and manifest lists straight to storage. A commit is
  * check-requirements → apply-updates → write `NNNNN-<uuid>.metadata.json`
  * → swap the pointer; racing committers from one base see exactly one
  * winner (the loser's `assert-ref-snapshot-id` no longer holds → 409).
  * Location-only readers keep working: the written file names match the
  * `vN`/`N-uuid` patterns [[graft.lake.iceberg.IcebergTable]] discovers.
  */
final class IcebergRestServer(warehouse: String, conf: Configuration,
    /** OAuth2 client-credentials registry (client_id → client_secret);
      * empty = anonymous service (the pre-r13 behavior). Non-empty
      * engages the spec's auth: `POST /v1/oauth/tokens` issues bearer
      * tokens, and EVERY other /v1 route (config included) rejects a
      * missing/unknown/expired token with 401. */
    credentials: Map[String, String] = Map.empty,
    /** Issued-token lifetime; short in specs to exercise the client's
      * expiry-refresh path. */
    tokenTtlMillis: Long = 3600000L,
    /** Storage credentials to VEND in every LoadTableResult (r14; the
      * spec's `storage-credentials` — what managed catalogs do instead
      * of requiring static engine-wide object-store keys). Keys use the
      * spec's names (`s3.access-key-id`, `s3.secret-access-key`,
      * `s3.session-token`, `s3.endpoint`, `s3.path-style-access`);
      * empty = nothing vended (the pre-r14 shape). A real service would
      * mint SCOPED short-lived credentials per table; the bundled one
      * vends its configured set with the table location as the scope
      * prefix, which exercises the whole client path. */
    vendedStorageCredentials: Map[String, String] = Map.empty) {

  private val mapper = new ObjectMapper()
  /** issued bearer token → expiry epoch-millis */
  private val issuedTokens =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()
  /** table full name (ns \u0000 name) → current metadata-location */
  private val tables = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** view full name -> current metadata-location (r14; the spec's views
    * API — view metadata is its own v1 JSON format carrying versioned
    * SQL representations, materialized like table metadata). */
  private val views = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val namespaces =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** namespace key -> properties (the spec's namespace metadata). */
  private val nsProps =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
  /** one lock arbitrates create/register/commit/drop — the catalog's
    * transaction boundary (a per-table lock would be enough for CAS but
    * not for create-vs-create races on one name). */
  private val lock = new Object
  private val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)

  private def key(ns: Seq[String], name: String) =
    (ns :+ name).mkString("\u0000")

  // ---- http plumbing --------------------------------------------------------

  private def send(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    x.getResponseHeaders.set("Content-Type", "application/json")
    if (code == 204 || x.getRequestMethod == "HEAD") {
      x.sendResponseHeaders(code, -1)
    } else {
      x.sendResponseHeaders(code, bytes.length)
      x.getResponseBody.write(bytes)
    }
    x.close()
  }

  /** spec error body: {"error":{"message","type","code"}} */
  private def err(x: HttpExchange, code: Int, tpe: String, msg: String): Unit = {
    val o = mapper.createObjectNode()
    val e = o.putObject("error")
    e.put("message", String.valueOf(msg)); e.put("type", tpe); e.put("code", code)
    send(x, code, mapper.writeValueAsString(o))
  }

  private def readBody(x: HttpExchange): JsonNode =
    mapper.readTree(x.getRequestBody)

  // ---- metadata IO ----------------------------------------------------------

  private def readMeta(metadataLocation: String): IceMeta = {
    val p = new Path(metadataLocation)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    IcebergMeta.parse(json)
  }

  /** Writes the next `NNNNN-<uuid>.metadata.json` (Iceberg's own naming;
    * also matched by location-only readers' version regex). The version
    * parse accepts BOTH naming families a pointer can carry — the
    * catalog's own `NNNNN-uuid` and an engine's `vN[-nonce]` (a
    * registered location-built table's current file) — so the first
    * catalog commit after register CONTINUES the version chain instead
    * of restarting at 0 below the engine's files (which would leave
    * location-only max-version readers resolving the stale pre-register
    * state). */
  private def writeMeta(m: IceMeta, prevLocation: Option[String]): String = {
    val version = prevLocation.flatMap { loc =>
      "^v?(\\d+)".r.findFirstMatchIn(new Path(loc).getName)
        .map(_.group(1).toInt + 1)
    }.getOrElse(0)
    val rel = f"metadata/$version%05d-${java.util.UUID.randomUUID()}.metadata.json"
    val p = new Path(m.location, rel)
    val fs = p.getFileSystem(conf)
    graft.lake.CommitIo.publish(fs, p, IcebergMeta.render(m).getBytes("UTF-8"))
    // courtesy hint (what Iceberg's HadoopTableOperations maintains): a
    // registered table may carry a stale version-hint.text from its
    // location-writer past, and hint-first readers would resolve it over
    // the newer catalog-committed file. Zero-padded so the reader's
    // `v?<hint>-*` glob matches the NNNNN-uuid name. Best-effort — the
    // catalog pointer, not the hint, decides the commit.
    try {
      val hint = fs.create(new Path(m.location, "metadata/version-hint.text"), true)
      try hint.write(f"$version%05d".getBytes("UTF-8")) finally hint.close()
    } catch { case _: java.io.IOException => () }
    fs.makeQualified(p).toString
  }

  private def loadResult(metadataLocation: String, m: IceMeta): String = {
    val o = mapper.createObjectNode()
    o.put("metadata-location", metadataLocation)
    o.set[JsonNode]("metadata", mapper.readTree(IcebergMeta.render(m)))
    o.putObject("config")
    if (vendedStorageCredentials.nonEmpty) {
      val arr = o.putArray("storage-credentials")
      val entry = arr.addObject()
      entry.put("prefix", m.location) // scope: this table's storage
      val cfg = entry.putObject("config")
      vendedStorageCredentials.foreach { case (k, v) => cfg.put(k, v) }
    }
    mapper.writeValueAsString(o)
  }

  // ---- commit semantics -----------------------------------------------------

  private def checkRequirement(m: IceMeta, r: JsonNode): Option[String] =
    r.path("type").asText() match {
      case "assert-table-uuid" =>
        val want = r.get("uuid").asText()
        if (m.uuid == want) None
        else Some(s"table uuid ${m.uuid} != asserted $want")
      case "assert-ref-snapshot-id" =>
        val ref = r.get("ref").asText()
        val want: Option[Long] =
          if (r.hasNonNull("snapshot-id")) Some(r.get("snapshot-id").asLong()) else None
        val actual: Option[Long] =
          if (ref == "main")
            m.refs.get("main").map(_.snapshotId).orElse(m.currentSnapshotId)
          else m.refs.get(ref).map(_.snapshotId)
        if (actual == want) None
        else Some(s"ref $ref is at ${actual.getOrElse("absent")}, " +
          s"asserted ${want.getOrElse("absent")}")
      case "assert-current-schema-id" =>
        val want = r.get("current-schema-id").asInt()
        if (m.currentSchemaId == want) None
        else Some(s"current-schema-id ${m.currentSchemaId} != asserted $want")
      case other =>
        // unknown requirement = cannot be validated = must fail loudly
        // (silently passing would break the committer's invariant)
        Some(s"unsupported requirement type '$other'")
    }

  private def applyUpdate(m: IceMeta, u: JsonNode): IceMeta =
    u.path("action").asText() match {
      case "assign-uuid" => m.copy(uuid = u.get("uuid").asText())
      case "upgrade-format-version" =>
        val fv = u.get("format-version").asInt()
        require(fv >= m.formatVersion, s"cannot downgrade format-version to $fv")
        m.copy(formatVersion = fv)
      case "add-snapshot" =>
        val s = IcebergMeta.parseSnapshot(u.get("snapshot"))
        require(!m.snapshots.exists(_.id == s.id), s"snapshot ${s.id} already exists")
        m.copy(snapshots = m.snapshots :+ s,
          lastSequenceNumber = math.max(m.lastSequenceNumber, s.sequenceNumber))
      case "set-snapshot-ref" =>
        val name = u.get("ref-name").asText()
        val id = u.get("snapshot-id").asLong()
        val tpe = u.path("type").asText("branch")
        val snap = m.snapshots.find(_.id == id).getOrElse(
          throw new IllegalArgumentException(s"set-snapshot-ref: unknown snapshot $id"))
        val m2 = m.copy(refs = m.refs + (name -> IceRef(id, tpe)))
        if (name == "main") {
          // snapshot-log entries must stay time-monotonic (as-of-time
          // resolution takes the LAST entry <= ts): a fresh snapshot
          // carries its own stamp, but a rewind to an OLDER snapshot
          // (rollback arriving as a bare ref move) is stamped at commit
          // time — appending the old snapshot's stamp would make as-of
          // reads between the two commits resolve to the rollback target
          // instead of the state current at that time.
          val lastLog = m.snapshotLog.lastOption.map(_._1).getOrElse(Long.MinValue)
          val ts =
            if (snap.timestampMs >= lastLog) snap.timestampMs
            else math.max(System.currentTimeMillis(), lastLog + 1)
          m2.copy(currentSnapshotId = Some(id),
            snapshotLog = m.snapshotLog :+ ((ts, id)))
        } else m2
      case "remove-snapshot-ref" =>
        m.copy(refs = m.refs - u.get("ref-name").asText())
      case "remove-snapshots" =>
        val ids = u.get("snapshot-ids").elements().asScala.map(_.asLong()).toSet
        require(!m.currentSnapshotId.exists(ids),
          "remove-snapshots cannot drop the current snapshot")
        m.copy(snapshots = m.snapshots.filterNot(s => ids(s.id)),
          snapshotLog = m.snapshotLog.filterNot(e => ids(e._2)),
          refs = m.refs.filterNot { case (_, r) => ids(r.snapshotId) })
      case "set-location" => // staged creates carry the staged location
        m.copy(location = u.get("location").asText())
      case "set-properties" =>
        val kvs = u.get("updates").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
        m.copy(properties = m.properties ++ kvs)
      case "remove-properties" =>
        val ks = u.get("removals").elements().asScala.map(_.asText()).toSeq
        m.copy(properties = m.properties -- ks)
      case "add-schema" =>
        val sch = IcebergMeta.parseSchemaNode(u.get("schema"))
        require(!m.schemas.exists(_.schemaId == sch.schemaId),
          s"schema-id ${sch.schemaId} already exists")
        val lastCol = math.max(u.path("last-column-id").asInt(0),
          math.max(m.lastColumnId, sch.fields.map(_.id).maxOption.getOrElse(0)))
        m.copy(schemas = m.schemas :+ sch, lastColumnId = lastCol)
      case "set-current-schema" =>
        val id = u.get("schema-id").asInt()
        val resolved = if (id == -1) m.schemas.map(_.schemaId).max else id
        require(m.schemas.exists(_.schemaId == resolved),
          s"set-current-schema: unknown schema-id $resolved")
        m.copy(currentSchemaId = resolved)
      case "add-spec" =>
        val sp = IcebergMeta.parseSpecNode(u.get("spec"))
        require(!m.specs.exists(_.specId == sp.specId),
          s"spec-id ${sp.specId} already exists")
        m.copy(specs = m.specs :+ sp,
          lastPartitionId = math.max(m.lastPartitionId,
            sp.fields.map(_.fieldId).maxOption.getOrElse(0)))
      case "set-default-spec" =>
        val id = u.get("spec-id").asInt()
        val resolved = if (id == -1) m.specs.map(_.specId).max else id
        require(m.specs.exists(_.specId == resolved),
          s"set-default-spec: unknown spec-id $resolved")
        m.copy(defaultSpecId = resolved)
      case other =>
        throw new IllegalArgumentException(s"unsupported update action '$other'")
    }

  // ---- routing --------------------------------------------------------------

  server.createContext("/v1", (x: HttpExchange) => {
    try route(x)
    catch {
      case e: IllegalArgumentException =>
        err(x, 400, "BadRequestException", String.valueOf(e.getMessage))
      case e: Exception =>
        err(x, 500, "InternalServerError", String.valueOf(e.getMessage))
    }
  })

  // ---- oauth ----------------------------------------------------------------

  /** `POST /v1/oauth/tokens` (client-credentials grant, form-encoded).
    * Wrong/unknown credentials are a 401 `invalid_client` per RFC 6749
    * — never an anonymous downgrade. */
  private def issueToken(x: HttpExchange): Unit = {
    val form = scala.io.Source.fromInputStream(x.getRequestBody, "UTF-8").mkString
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    val ok = form.get("grant_type").contains("client_credentials") &&
      form.get("client_id").exists(id =>
        credentials.get(id).exists(sec => form.get("client_secret").contains(sec)))
    if (!ok) {
      val o = mapper.createObjectNode()
      o.put("error", "invalid_client")
      o.put("error_description", "unknown client or bad secret")
      send(x, 401, mapper.writeValueAsString(o))
    } else {
      val t = java.util.UUID.randomUUID().toString
      issuedTokens.put(t, System.currentTimeMillis() + tokenTtlMillis)
      val o = mapper.createObjectNode()
      o.put("access_token", t)
      o.put("token_type", "bearer")
      o.put("expires_in", math.max(tokenTtlMillis / 1000, 1L))
      send(x, 200, mapper.writeValueAsString(o))
    }
  }

  /** Bearer check for every non-token route when auth is on; expired
    * tokens are evicted (the client is expected to re-POST the grant). */
  private def authorized(x: HttpExchange): Boolean =
    credentials.isEmpty || {
      Option(x.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Bearer "))
        .map(_.stripPrefix("Bearer ").trim)
        .exists { t =>
          val exp = issuedTokens.getOrDefault(t, 0L)
          if (exp < System.currentTimeMillis()) { issuedTokens.remove(t); false }
          else true
        }
    }

  /** Query-string params (pageSize, pageToken, ...). */
  private def query(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getRawQuery).map(_.split("&").toSeq).getOrElse(Nil)
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** Spec pagination over a sorted key list: a `pageSize` request gets
    * at most that many entries plus an OPAQUE `next-page-token` (base64
    * of the last key served — a cursor, so concurrent inserts never
    * skip or repeat a page boundary); no `pageSize` = the whole list
    * (pagination engages when the client asks for it). */
  private def page(x: HttpExchange, all: Seq[String]): (Seq[String], Option[String]) = {
    val q = query(x)
    q.get("pageSize").flatMap(s => scala.util.Try(s.toInt).toOption) match {
      case None => (all, None)
      case Some(sz) =>
        val after = q.get("pageToken").filter(_.nonEmpty).map(t =>
          new String(java.util.Base64.getUrlDecoder.decode(t), "UTF-8"))
        val remaining = after.map(a => all.dropWhile(_ <= a)).getOrElse(all)
        val slice = remaining.take(math.max(sz, 1))
        val next =
          if (remaining.lengthCompare(slice.length) > 0 && slice.nonEmpty)
            Some(java.util.Base64.getUrlEncoder.withoutPadding()
              .encodeToString(slice.last.getBytes("UTF-8")))
          else None
        (slice, next)
    }
  }

  private def route(x: HttpExchange): Unit = {
    val segs = x.getRequestURI.getPath.stripPrefix("/v1").stripPrefix("/")
      .split("/").toSeq.filter(_.nonEmpty)
    val method = x.getRequestMethod
    if ((method, segs) == (("POST", Seq("oauth", "tokens")))) { issueToken(x); return }
    if (!authorized(x)) {
      err(x, 401, "NotAuthorizedException",
        "missing, unknown or expired bearer token"); return
    }
    (method, segs) match {
      case ("GET", Seq("config")) =>
        val o = mapper.createObjectNode()
        o.putObject("defaults"); o.putObject("overrides")
        send(x, 200, mapper.writeValueAsString(o))

      case ("POST", Seq("transactions", "commit")) =>
        commitTransaction(x)

      case ("POST", Seq("views", "rename")) =>
        val b = readBody(x)
        def identV(n: JsonNode): (Seq[String], String) = {
          val it = n.path("namespace").elements()
          val ns = Seq.newBuilder[String]
          while (it.hasNext) ns += it.next().asText()
          (ns.result(), n.path("name").asText())
        }
        val (sNs, sName) = identV(b.get("source"))
        val (dNs, dName) = identV(b.get("destination"))
        val sk = key(sNs, sName); val dk = key(dNs, dName)
        val outcome: Either[(Int, String, String), Unit] = lock.synchronized {
          if (!namespaces.contains(dNs.mkString("\u001F")))
            Left((404, "NoSuchNamespaceException",
              s"no namespace ${dNs.mkString(".")}"))
          else if (!views.containsKey(sk))
            Left((404, "NoSuchViewException", s"no view $sName"))
          else if (views.containsKey(dk))
            Left((409, "AlreadyExistsException", s"view $dName exists"))
          else { views.put(dk, views.remove(sk)); Right(()) }
        }
        outcome match {
          case Left((code, tpe, msg)) => err(x, code, tpe, msg)
          case Right(_) => send(x, 204, "")
        }

      case ("POST", Seq("tables", "rename")) =>
        val b = readBody(x)
        def ident(n: JsonNode): (Seq[String], String) = {
          val it = n.path("namespace").elements()
          val ns = Seq.newBuilder[String]
          while (it.hasNext) ns += it.next().asText()
          (ns.result(), n.path("name").asText())
        }
        val (sNs, sName) = ident(b.get("source"))
        val (dNs, dName) = ident(b.get("destination"))
        val sk = key(sNs, sName); val dk = key(dNs, dName)
        val outcome: Either[(Int, String, String), Unit] = lock.synchronized {
          if (!namespaces.contains(dNs.mkString("\u001F")))
            Left((404, "NoSuchNamespaceException",
              s"no namespace ${dNs.mkString(".")}"))
          else if (!tables.containsKey(sk))
            Left((404, "NoSuchTableException", s"no table $sName"))
          else if (tables.containsKey(dk))
            Left((409, "AlreadyExistsException", s"table $dName exists"))
          else { tables.put(dk, tables.remove(sk)); Right(()) }
        }
        outcome match {
          case Left((code, tpe, msg)) => err(x, code, tpe, msg)
          case Right(_) => send(x, 204, "")
        }

      case ("GET", Seq("namespaces")) =>
        val (slice, next) = page(x, namespaces.asScala.toSeq.sorted)
        val o = mapper.createObjectNode()
        val arr = o.putArray("namespaces")
        slice.foreach { ns =>
          val a = arr.addArray(); ns.split("\u001F").foreach(a.add)
        }
        next.foreach(o.put("next-page-token", _))
        send(x, 200, mapper.writeValueAsString(o))

      case ("POST", Seq("namespaces")) =>
        val body = readBody(x)
        val ns = body.get("namespace").elements().asScala
          .map(_.asText()).mkString("\u001F")
        if (namespaces.add(ns)) {
          val props =
            (if (body.hasNonNull("properties"))
               body.get("properties").properties().asScala
                 .map(e => e.getKey -> e.getValue.asText()).toMap
             else Map.empty[String, String])
          if (props.nonEmpty) nsProps.put(ns, props)
          val o = mapper.createObjectNode()
          val a = o.putArray("namespace"); ns.split("\u001F").foreach(a.add)
          val pn = o.putObject("properties")
          props.foreach { case (k, v) => pn.put(k, v) }
          send(x, 200, mapper.writeValueAsString(o))
        } else err(x, 409, "AlreadyExistsException", s"namespace exists")

      case ("GET", Seq("namespaces", ns)) =>
        if (!namespaces.contains(ns))
          err(x, 404, "NoSuchNamespaceException", s"no namespace")
        else {
          val o = mapper.createObjectNode()
          val a = o.putArray("namespace"); ns.split("\u001F").foreach(a.add)
          val pn = o.putObject("properties")
          nsProps.getOrDefault(ns, Map.empty)
            .foreach { case (k, v) => pn.put(k, v) }
          send(x, 200, mapper.writeValueAsString(o))
        }

      case ("DELETE", Seq("namespaces", ns)) =>
        // the spec: a namespace must be EMPTY to drop (409 otherwise)
        val outcome = lock.synchronized {
          if (!namespaces.contains(ns)) Left((404, "NoSuchNamespaceException"))
          else if ((tables.keySet().asScala ++ views.keySet().asScala)
              .exists(_.split("\u0000").toSeq.init.mkString("\u001F") == ns))
            Left((409, "NamespaceNotEmptyException"))
          else { namespaces.remove(ns); nsProps.remove(ns); Right(()) }
        }
        outcome match {
          case Left((code, tpe)) => err(x, code, tpe, s"namespace $ns")
          case Right(_) => send(x, 204, "")
        }

      case ("POST", Seq("namespaces", ns, "properties")) =>
        // UpdateNamespacePropertiesRequest: {removals:[..], updates:{..}}
        if (!namespaces.contains(ns)) {
          err(x, 404, "NoSuchNamespaceException", s"no namespace $ns")
        } else {
          val b = readBody(x)
          val removals =
            (if (b.hasNonNull("removals"))
               b.get("removals").elements().asScala.map(_.asText()).toSeq
             else Nil)
          val updates =
            (if (b.hasNonNull("updates"))
               b.get("updates").properties().asScala
                 .map(e => e.getKey -> e.getValue.asText()).toSeq
             else Nil)
          require(removals.toSet.intersect(updates.map(_._1).toSet).isEmpty,
            "a property cannot be both removed and updated in one request")
          var removed = Seq.empty[String]
          var missing = Seq.empty[String]
          nsProps.compute(ns, { (_, cur0) =>
            val cur = Option(cur0).getOrElse(Map.empty)
            removed = removals.filter(cur.contains)
            missing = removals.filterNot(cur.contains)
            (cur -- removals) ++ updates
          })
          val o = mapper.createObjectNode()
          val up = o.putArray("updated"); updates.map(_._1).sorted.foreach(up.add)
          val rm = o.putArray("removed"); removed.sorted.foreach(rm.add)
          val ms = o.putArray("missing"); missing.sorted.foreach(ms.add)
          send(x, 200, mapper.writeValueAsString(o))
        }

      case ("GET", Seq("namespaces", ns, "tables")) =>
        val nsSeq = ns.split("\u001F").toSeq
        val inNs = tables.keySet().asScala.toSeq.sorted
          .filter(_.split("\u0000").toSeq.init == nsSeq)
        val (slice, next) = page(x, inNs)
        val o = mapper.createObjectNode()
        val arr = o.putArray("identifiers")
        slice.map(_.split("\u0000").toSeq).foreach { parts =>
          val ident = arr.addObject()
          val a = ident.putArray("namespace"); parts.init.foreach(a.add)
          ident.put("name", parts.last)
        }
        next.foreach(o.put("next-page-token", _))
        send(x, 200, mapper.writeValueAsString(o))

      case ("GET", Seq("namespaces", ns, "views")) =>
        val nsSeq = ns.split("\u001F").toSeq
        val inNs = views.keySet().asScala.toSeq.sorted
          .filter(_.split("\u0000").toSeq.init == nsSeq)
        val (slice, next) = page(x, inNs)
        val o = mapper.createObjectNode()
        val arr = o.putArray("identifiers")
        slice.map(_.split("\u0000").toSeq).foreach { parts =>
          val ident = arr.addObject()
          val a = ident.putArray("namespace"); parts.init.foreach(a.add)
          ident.put("name", parts.last)
        }
        next.foreach(o.put("next-page-token", _))
        send(x, 200, mapper.writeValueAsString(o))

      case ("POST", Seq("namespaces", ns, "views")) => createView(x, ns)

      case (m, Seq("namespaces", ns, "views", v)) =>
        val k = key(ns.split("\u001F").toSeq, v)
        m match {
          case "HEAD" =>
            send(x, if (views.containsKey(k)) 204 else 404, "")
          case "GET" =>
            Option(views.get(k)) match {
              case None => err(x, 404, "NoSuchViewException", s"no view $v")
              case Some(loc) => send(x, 200, loadViewResult(loc, readViewMeta(loc)))
            }
          case "DELETE" =>
            if (lock.synchronized(Option(views.remove(k))).isDefined)
              send(x, 204, "")
            else err(x, 404, "NoSuchViewException", s"no view $v")
          case "POST" => commitView(x, k, v)
          case _ => err(x, 405, "BadRequestException", "unsupported method")
        }

      case ("POST", Seq("namespaces", ns, "tables")) => createTable(x, ns)
      case ("POST", Seq("namespaces", ns, "register")) => registerTable(x, ns)

      case (m, Seq("namespaces", ns, "tables", t)) =>
        val k = key(ns.split("\u001F").toSeq, t)
        m match {
          case "HEAD" =>
            send(x, if (tables.containsKey(k)) 204 else 404, "")
          case "GET" =>
            Option(tables.get(k)) match {
              case None => err(x, 404, "NoSuchTableException", s"no table $t")
              case Some(loc) => send(x, 200, loadResult(loc, readMeta(loc)))
            }
          case "DELETE" =>
            val purge = query(x).get("purgeRequested").contains("true")
            val removed = lock.synchronized(Option(tables.remove(k)))
            removed match {
              case None => err(x, 404, "NoSuchTableException", s"no table $t")
              case Some(loc) =>
                // purgeRequested (the reference's drop_table(purge)):
                // the service also deletes the table's storage; a plain
                // drop leaves files for an external vacuum
                if (purge) {
                  val tblRoot = new Path(readMeta(loc).location)
                  try tblRoot.getFileSystem(conf).delete(tblRoot, true)
                  catch { case _: java.io.IOException => () } // best-effort
                }
                send(x, 204, "")
            }
          case "POST" => commitTable(x, k, t)
          case _ => err(x, 405, "BadRequestException", "unsupported method")
        }

      case _ => err(x, 404, "BadRequestException",
        s"unknown route $method /v1/${segs.mkString("/")}")
    }
  }

  private def createTable(x: HttpExchange, ns: String): Unit = {
    val nsSeq = ns.split("\u001F").toSeq
    if (!namespaces.contains(ns)) {
      err(x, 404, "NoSuchNamespaceException", s"no namespace $ns"); return
    }
    val body = readBody(x)
    val name = body.get("name").asText()
    val k = key(nsSeq, name)
    val sch = IcebergMeta.parseSchemaNode(body.get("schema"))
    val specFields =
      if (body.hasNonNull("partition-spec"))
        IcebergMeta.parseSpecFieldsNode(body.get("partition-spec").get("fields"))
      else Nil
    val props =
      (if (body.hasNonNull("properties")) body.get("properties").properties().asScala else Nil)
        .map(e => e.getKey -> e.getValue.asText()).toMap
    val loc0 =
      if (body.hasNonNull("location")) body.get("location").asText()
      else (nsSeq :+ name).mkString(s"$warehouse/", "/", "")
    val loc = {
      val p = new Path(loc0)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    val meta = IceMeta(2, java.util.UUID.randomUUID().toString, loc, 0L,
      sch.fields.map(_.id).maxOption.getOrElse(0), sch.schemaId, Seq(sch),
      0, Seq(IcePartSpec(0, specFields)),
      specFields.map(_.fieldId).maxOption.getOrElse(999),
      props, None, Nil, Nil, Map.empty)
    // STAGED CREATE (r15; CreateTableRequest.stage-create): return the
    // would-be metadata WITHOUT registering or writing anything — the
    // table materializes only when a transaction carrying assert-create
    // commits it (transactional CTAS through the catalog). An existing
    // name still 409s eagerly (fail fast, same as the commit would).
    if (body.path("stage-create").asBoolean(false)) {
      if (tables.containsKey(k)) {
        err(x, 409, "AlreadyExistsException", s"table $name exists"); return
      }
      val o = mapper.createObjectNode()
      o.set[JsonNode]("metadata", mapper.readTree(IcebergMeta.render(meta)))
      send(x, 200, mapper.writeValueAsString(o))
      return
    }
    val outcome = lock.synchronized {
      if (tables.containsKey(k)) None
      else {
        val ml = writeMeta(meta, None)
        tables.put(k, ml)
        Some(ml)
      }
    }
    outcome match {
      case None => err(x, 409, "AlreadyExistsException", s"table $name exists")
      case Some(ml) => send(x, 200, loadResult(ml, meta))
    }
  }

  private def registerTable(x: HttpExchange, ns: String): Unit = {
    val nsSeq = ns.split("\u001F").toSeq
    if (!namespaces.contains(ns)) {
      err(x, 404, "NoSuchNamespaceException", s"no namespace $ns"); return
    }
    val body = readBody(x)
    val name = body.get("name").asText()
    val ml = body.get("metadata-location").asText()
    val m = readMeta(ml) // validates the pointed-at metadata parses
    val k = key(nsSeq, name)
    val ok = lock.synchronized {
      if (tables.containsKey(k)) false else { tables.put(k, ml); true }
    }
    if (ok) send(x, 200, loadResult(ml, m))
    else err(x, 409, "AlreadyExistsException", s"table $name exists")
  }

  // ---- views (r14; the spec's views API) ------------------------------------
  // View metadata is the spec's own v1 JSON (view-uuid, schemas,
  // versions carrying SQL representations, version-log) — materialized
  // under the view location like table metadata, pointer-swapped under
  // the same lock.

  private def readViewMeta(metadataLocation: String): JsonNode = {
    val p = new Path(metadataLocation)
    val in = p.getFileSystem(conf).open(p)
    try mapper.readTree(in) finally in.close()
  }

  private def writeViewMeta(m: JsonNode, location: String,
      prevLocation: Option[String]): String = {
    val version = prevLocation.flatMap { loc =>
      "^v?(\\d+)".r.findFirstMatchIn(new Path(loc).getName)
        .map(_.group(1).toInt + 1)
    }.getOrElse(0)
    val rel = f"metadata/$version%05d-${java.util.UUID.randomUUID()}.metadata.json"
    val p = new Path(location, rel)
    val fs = p.getFileSystem(conf)
    graft.lake.CommitIo.publish(fs, p, mapper.writeValueAsBytes(m))
    fs.makeQualified(p).toString
  }

  private def loadViewResult(metadataLocation: String, m: JsonNode): String = {
    val o = mapper.createObjectNode()
    o.put("metadata-location", metadataLocation)
    o.set[JsonNode]("metadata", m)
    o.putObject("config")
    mapper.writeValueAsString(o)
  }

  /** CreateViewRequest: {name, schema, view-version {representations:
    * [{type:"sql", sql, dialect}], default-namespace, ...}, properties}
    * → view metadata v1 with version-id 1. */
  private def createView(x: HttpExchange, ns: String): Unit = {
    val nsSeq = ns.split("\u001F").toSeq
    if (!namespaces.contains(ns)) {
      err(x, 404, "NoSuchNamespaceException", s"no namespace $ns"); return
    }
    val body = readBody(x)
    val name = body.get("name").asText()
    val k = key(nsSeq, name)
    val loc0 = (nsSeq :+ name).mkString(s"$warehouse/", "/", "")
    val loc = {
      val p = new Path(loc0)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    val now = System.currentTimeMillis()
    val m = mapper.createObjectNode()
    m.put("view-uuid", java.util.UUID.randomUUID().toString)
    m.put("format-version", 1)
    m.put("location", loc)
    val schemas = m.putArray("schemas")
    val schemaNode = body.path("schema").deepCopy[JsonNode]()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    if (!schemaNode.has("schema-id")) schemaNode.put("schema-id", 0)
    schemas.add(schemaNode)
    m.put("current-version-id", 1)
    val versions = m.putArray("versions")
    val vv = body.path("view-version").deepCopy[JsonNode]()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    vv.put("version-id", 1)
    vv.put("timestamp-ms", now)
    if (!vv.has("schema-id")) vv.put("schema-id", schemaNode.path("schema-id").asInt(0))
    versions.add(vv)
    val vlog = m.putArray("version-log")
    val vl = vlog.addObject(); vl.put("timestamp-ms", now); vl.put("version-id", 1)
    val props = m.putObject("properties")
    if (body.hasNonNull("properties"))
      body.get("properties").properties().asScala
        .foreach(e => props.put(e.getKey, e.getValue.asText()))
    val outcome = lock.synchronized {
      if (views.containsKey(k)) None
      else {
        val ml = writeViewMeta(m, loc, None)
        views.put(k, ml)
        Some(ml)
      }
    }
    outcome match {
      case None => err(x, 409, "AlreadyExistsException", s"view $name exists")
      case Some(ml) => send(x, 200, loadViewResult(ml, m))
    }
  }

  /** CommitViewRequest: requirements (assert-view-uuid) + updates
    * (add-view-version, set-current-view-version; -1 = the version just
    * added, per spec). Unknown actions reject loudly. */
  private def commitView(x: HttpExchange, k: String, name: String): Unit = {
    val body = readBody(x)
    val reqs = (if (body.has("requirements"))
      body.get("requirements").elements().asScala.toSeq else Nil)
    val updates = (if (body.has("updates"))
      body.get("updates").elements().asScala.toSeq else Nil)
    val outcome = lock.synchronized {
      Option(views.get(k)) match {
        case None => Left((404, "NoSuchViewException", s"no view $name"))
        case Some(prevLoc) =>
          val cur = readViewMeta(prevLoc)
            .deepCopy[JsonNode]().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          val uuidFail = reqs.flatMap { r =>
            r.path("type").asText() match {
              case "assert-view-uuid" =>
                val want = r.path("uuid").asText()
                if (cur.path("view-uuid").asText() == want) None
                else Some(s"view uuid ${cur.path("view-uuid").asText()} != asserted $want")
              case other => Some(s"unsupported view requirement type '$other'")
            }
          }.headOption
          // duplicate version-id = a lost race: the view uuid never changes
          // across commits, so assert-view-uuid alone cannot arbitrate two
          // replacers racing from the same base (both compute max+1 = the
          // same id). The id collision is the arbitration — first writer
          // appends it, second 409s and must re-read.
          val existingIds = cur.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
            "versions").elements().asScala.map(_.path("version-id").asInt()).toSet
          val addedIds = updates.filter(_.path("action").asText() == "add-view-version")
            .map(_.path("view-version").path("version-id").asInt())
          val dupFail = addedIds.find(existingIds.contains)
            .map(id => s"view version-id $id already exists (concurrent commit)")
            .orElse(addedIds.diff(addedIds.distinct).headOption
              .map(id => s"view version-id $id added twice in one commit"))
          uuidFail.orElse(dupFail) match {
            case Some(fail) => Left((409, "CommitFailedException", fail))
            case None =>
              var lastAdded = -1
              updates.foreach { u =>
                u.path("action").asText() match {
                  case "add-view-version" =>
                    val vv = u.path("view-version").deepCopy[JsonNode]()
                      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                    if (!vv.hasNonNull("timestamp-ms"))
                      vv.put("timestamp-ms", System.currentTimeMillis())
                    lastAdded = vv.path("version-id").asInt()
                    cur.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
                      "versions").add(vv)
                  case "set-current-view-version" =>
                    val vid0 = u.path("view-version-id").asInt()
                    val vid = if (vid0 == -1) lastAdded else vid0
                    require(vid > 0, "set-current-view-version before add-view-version")
                    cur.put("current-version-id", vid)
                    val vl = cur.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
                      "version-log").addObject()
                    vl.put("timestamp-ms", System.currentTimeMillis())
                    vl.put("version-id", vid)
                  case "set-properties" =>
                    val pn = cur.withObject("properties")
                    u.path("updates").properties().asScala
                      .foreach(e => pn.put(e.getKey, e.getValue.asText()))
                  case other =>
                    throw new IllegalArgumentException(
                      s"unsupported view update action '$other'")
                }
              }
              val ml = writeViewMeta(cur, cur.path("location").asText(), Some(prevLoc))
              views.put(k, ml)
              Right((ml, cur: JsonNode))
          }
      }
    }
    outcome match {
      case Left((code, tpe, msg)) => err(x, code, tpe, msg)
      case Right((ml, m)) => send(x, 200, loadViewResult(ml, m))
    }
  }

  /** CommitTransactionRequest (`POST /v1/transactions/commit` — the
    * spec's multi-table transaction endpoint): N CommitTableRequests,
    * each with an identifier. ALL tables' requirements are validated
    * against current state and ALL updates applied + pointers swapped
    * under ONE lock hold — all-or-nothing: any failing requirement
    * 409s the WHOLE transaction and no table moves (the ingest+retire
    * pattern through the published protocol). 204 on success. */
  private def commitTransaction(x: HttpExchange): Unit = {
    val body = readBody(x)
    val changes = (if (body.has("table-changes"))
      body.get("table-changes").elements().asScala.toSeq else Nil)
    if (changes.isEmpty) {
      err(x, 400, "BadRequestException", "transaction with no table-changes")
      return
    }
    val outcome: Either[(Int, String, String), Unit] = lock.synchronized {
      val resolved = changes.map { c =>
        val id = c.path("identifier")
        val ns = id.path("namespace").elements().asScala.map(_.asText()).toSeq
        val name = id.path("name").asText()
        (key(ns, name), s"${ns.mkString(".")}.$name", c)
      }
      if (resolved.map(_._1).distinct.size != resolved.size)
        Left((400, "BadRequestException",
          "duplicate table in transaction (merge its changes into one entry)"))
      else {
        // phase 1: resolve + validate EVERY change, apply updates in
        // memory — nothing visible yet. A change whose requirements are
        // exactly [assert-create] TARGETS A STAGED TABLE (transactional
        // CTAS): it must NOT exist yet; its updates replay the creation
        // (assign-uuid / add-schema / add-spec / …) over an empty seed
        // at the warehouse location before the data commits apply.
        var failure: Option[(Int, String, String)] = None
        val staged = resolved.flatMap { case (k, label, c) =>
          if (failure.isDefined) Nil
          else {
            val reqs = (if (c.has("requirements"))
              c.get("requirements").elements().asScala.toSeq else Nil)
            val isCreate = reqs.exists(_.path("type").asText() == "assert-create")
            val ups = (if (c.has("updates"))
              c.get("updates").elements().asScala.toSeq else Nil)
            if (isCreate) {
              if (reqs.lengthCompare(1) != 0) {
                failure = Some((400, "BadRequestException",
                  s"$label: assert-create must be the only requirement"))
                Nil
              } else if (tables.containsKey(k)) {
                failure = Some((409, "CommitFailedException",
                  s"$label: table already exists (assert-create failed)"))
                Nil
              } else Seq((k, foldStagedCreate(k, label, ups),
                None: Option[String]))
            } else Option(tables.get(k)) match {
              case None =>
                failure = Some((404, "NoSuchTableException", s"no table $label"))
                Nil
              case Some(prevLoc) =>
                val cur = readMeta(prevLoc)
                reqs.flatMap(r => checkRequirement(cur, r)).headOption match {
                  case Some(fail) =>
                    failure = Some((409, "CommitFailedException", s"$label: $fail"))
                    Nil
                  case None =>
                    Seq((k, ups.foldLeft(cur)(applyUpdate), Some(prevLoc)))
                }
            }
          }
        }
        failure match {
          case Some(f) => Left(f)
          case None =>
            // phase 2: write every new metadata file, THEN swap all
            // pointers — an IO failure before any swap leaves only
            // orphan metadata files, never a torn transaction
            val mls = staged.map { case (k, next, prevLoc) =>
              (k, writeMeta(next, prevLoc)) }
            mls.foreach { case (k, ml) => tables.put(k, ml) }
            Right(())
        }
      }
    }
    outcome match {
      case Left((code, tpe, msg)) => err(x, code, tpe, msg)
      case Right(_) => send(x, 204, "")
    }
  }

  /** Fold a staged create's update replay over the empty seed for
    * table key `k` — shared by the transaction path and the
    * SINGLE-TABLE commit endpoint (r16, protocol parity: the spec lets
    * a stage-create commit through either). The updates replay the
    * staged creation (set-location / assign-uuid / add-schema /
    * add-spec …); an unpartitioned staged table sends no add-spec, so
    * the default empty spec 0 is appended post-fold. */
  private def foldStagedCreate(k: String, label: String,
      ups: Seq[com.fasterxml.jackson.databind.JsonNode]): IceMeta = {
    val segs = k.split("\u0000").toSeq
    val loc0 = segs.mkString(s"$warehouse/", "/", "")
    val loc = {
      val p = new Path(loc0)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    val seed = IceMeta(2, "", loc, 0L, 0, 0, Nil, 0,
      Nil, 999, Map.empty, None, Nil, Nil, Map.empty)
    val folded = ups.foldLeft(seed)(applyUpdate)
    val next =
      if (folded.specs.isEmpty) folded.copy(specs = Seq(IcePartSpec(0, Nil)))
      else folded
    require(next.schemas.nonEmpty && next.uuid.nonEmpty,
      s"$label: staged create must replay schema + uuid updates")
    next
  }

  private def commitTable(x: HttpExchange, k: String, name: String): Unit = {
    val body = readBody(x)
    val reqs = (if (body.has("requirements"))
      body.get("requirements").elements().asScala.toSeq else Nil)
    val updates = (if (body.has("updates"))
      body.get("updates").elements().asScala.toSeq else Nil)
    // requirement check + update application + pointer swap under ONE
    // lock hold — the commit's atomicity; IO inside the lock is the
    // price of an authoritative storage-backed pointer (a durable
    // implementation serializes on its database transaction instead)
    // assert-create TARGETS A STAGED TABLE (r16): the spec's
    // stage-create pair may commit through this single-table endpoint
    // too, not only through /transactions/commit — same validation,
    // same all-under-one-lock registration
    val isCreate = reqs.exists(_.path("type").asText() == "assert-create")
    val outcome = lock.synchronized {
      if (isCreate) {
        if (reqs.lengthCompare(1) != 0)
          Left((400, "BadRequestException",
            s"$name: assert-create must be the only requirement"))
        else if (tables.containsKey(k))
          Left((409, "CommitFailedException",
            s"$name: table already exists (assert-create failed)"))
        else {
          val next = foldStagedCreate(k, name, updates)
          val ml = writeMeta(next, None)
          tables.put(k, ml)
          Right((ml, next))
        }
      } else Option(tables.get(k)) match {
        case None => Left((404, "NoSuchTableException", s"no table $name"))
        case Some(prevLoc) =>
          val cur = readMeta(prevLoc)
          reqs.flatMap(r => checkRequirement(cur, r)).headOption match {
            case Some(fail) =>
              Left((409, "CommitFailedException", fail))
            case None =>
              val next = updates.foldLeft(cur)(applyUpdate)
              val ml = writeMeta(next, Some(prevLoc))
              tables.put(k, ml)
              Right((ml, next))
          }
      }
    }
    outcome match {
      case Left((code, tpe, msg)) => err(x, code, tpe, msg)
      case Right((ml, m)) => send(x, 200, loadResult(ml, m))
    }
  }

  server.setExecutor(null)
  server.start()

  def port: Int = server.getAddress.getPort
  def uri: String = s"http://localhost:$port"
  def stop(): Unit = server.stop(0)
}
