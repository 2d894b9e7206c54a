package graft.auth

import java.security.{MessageDigest, SecureRandom}
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Users, roles, and object privileges — the reference's access-control
  * surface (`sabot/grammar/src/main/codegen/data/Parser.tdd:656-660`
  * `SqlCreateUser()`/`SqlCreateRole()`/`SqlGrant()`,
  * `includes/grant.ftl`, `role.ftl`; enforcement lives in dac). A
  * three-protocol server without authz means every connection is root —
  * this registry closes that.
  *
  * Spark-first shape: the registry is coordinator-side metadata (JVM-wide,
  * like [[graft.engine.Queues]]); enforcement is an analysis-time CHECK
  * RULE injected via `SparkSessionExtensions.injectCheckRule`, so it
  * guards every surface that plans SQL — in-process `Graft.sql`, Thrift
  * JDBC, Spark Connect, and REST — with zero cost on the data path
  * (nothing is added to the physical plan).
  *
  * Model:
  *  - `CREATE USER u PASSWORD 'pw' [ADMIN]` — salted-SHA-256 credential.
  *  - `CREATE ROLE r`, `GRANT ROLE r TO USER u` — role membership.
  *  - `GRANT SELECT|ALL ON <object> TO USER u|ROLE r` — object is a table
  *    or view name, a lake/parquet path (quoted), or `*`.
  *  - Sessions bind a principal with `AUTHENTICATE USER u PASSWORD 'pw'`,
  *    which stores a random token in the session conf; claiming
  *    `spark.graft.user` without the matching token is ignored (identity
  *    is authenticated, not self-declared).
  *  - While enforcement is ON (`ALTER AUTH ENFORCE ON`), every query that
  *    reads an identified relation requires SELECT on it (or on a granted
  *    view ABOVE it — views act as the security layer, so a grant on a
  *    view does not require grants on its base tables); admins bypass.
  *    Sessions with no authenticated principal are refused. Relations
  *    with no catalog identity (VALUES, range, in-memory) pass — they
  *    carry no persisted data.
  * Grant checks are per-statement at analysis time; the registry is
  * driver-small (names and hashes), nothing scales with data.
  */
object Privileges {

  final case class User(name: String, hash: String, salt: String,
                        admin: Boolean, roles: Set[String])

  /** Built-in admin role: membership confers every privilege. */
  val AdminRole = "admin"

  private val users = TrieMap.empty[String, User]
  private val roles = TrieMap.empty[String, Boolean]
  /** (kind, grantee) -> set of (action, object). Objects are lowercased;
    * paths are normalized. */
  private val grants = TrieMap.empty[(String, String), Set[(String, String)]]
  // token -> user, BOUNDED (insertion-order eviction): a long-running
  // server whose clients authenticate per request would otherwise grow an
  // unbounded map of still-valid credentials. 16k live sessions is far
  // beyond any single-JVM deployment; the oldest login simply re-auths.
  private val MaxTokens = 16384
  private val tokens = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, String]() {
      override def removeEldestEntry(e: java.util.Map.Entry[String, String]): Boolean =
        size() > MaxTokens
    })
  @volatile private var enforceFlag = false
  private val rng = new SecureRandom()

  roles.put(AdminRole, true)

  /** Session conf key holding the authenticated session token. */
  val TokenConf = "spark.graft.token"
  /** Session conf key mirroring the authenticated user name (display). */
  val UserConf = "spark.graft.user"

  def enforcing: Boolean = enforceFlag

  /** Turn enforcement on/off. Turning it ON requires an admin user to
    * exist (otherwise the system would lock everyone out) and — when
    * already enforcing — an admin principal on the calling session. */
  def setEnforce(spark: SparkSession, on: Boolean): Unit = synchronized {
    if (on) require(users.values.exists(_.admin),
      "cannot enable auth enforcement: no admin user exists (CREATE USER ... ADMIN first)")
    requireAdmin(spark, if (on) "ALTER AUTH ENFORCE ON" else "ALTER AUTH ENFORCE OFF")
    enforceFlag = on
    persist()
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def createUser(spark: SparkSession, name: String, password: String,
                 admin: Boolean = false): Unit = {
    requireAdmin(spark, s"CREATE USER $name")
    val salt = new Array[Byte](16); rng.nextBytes(salt)
    val s = salt.map("%02x".format(_)).mkString
    val u = User(name.toLowerCase, sha(s + password), s, admin,
      if (admin) Set(AdminRole) else Set.empty)
    require(users.putIfAbsent(u.name, u).isEmpty, s"user '$name' already exists")
    persist()
  }

  /** ALTER USER ... SET PASSWORD (reference `SqlAlterUser`): admins may
    * change anyone's; a user may change their OWN. Existing session
    * tokens for the user are revoked (a changed credential invalidates
    * outstanding logins). */
  def alterPassword(spark: SparkSession, name: String, password: String): Unit = {
    val n = name.toLowerCase
    val self = principalOf(spark).exists(_.name == n)
    if (!self) requireAdmin(spark, s"ALTER USER $name")
    val u = users.getOrElse(n,
      throw new IllegalArgumentException(s"unknown user: $name"))
    val salt = new Array[Byte](16); rng.nextBytes(salt)
    val s = salt.map("%02x".format(_)).mkString
    users.put(n, u.copy(hash = sha(s + password), salt = s))
    tokens.synchronized(tokens.values.removeIf(_ == n))
    persist()
  }

  def dropUser(spark: SparkSession, name: String): Unit = {
    requireAdmin(spark, s"DROP USER $name")
    users.remove(name.toLowerCase)
    grants.remove(("user", name.toLowerCase))
    invalidateClosures()
    tokens.synchronized(tokens.values.removeIf(_ == name.toLowerCase))
    persist()
  }

  def createRole(spark: SparkSession, name: String): Unit = {
    requireAdmin(spark, s"CREATE ROLE $name")
    require(roles.putIfAbsent(name.toLowerCase, true).isEmpty,
      s"role '$name' already exists")
    persist()
  }

  def dropRole(spark: SparkSession, name: String): Unit = {
    requireAdmin(spark, s"DROP ROLE $name")
    require(name.toLowerCase != AdminRole, "cannot drop the built-in admin role")
    roles.remove(name.toLowerCase)
    grants.remove(("role", name.toLowerCase))
    invalidateClosures()
    users.mapValuesInPlace((_, u) => u.copy(roles = u.roles - name.toLowerCase))
    persist()
  }

  def grantRole(spark: SparkSession, role: String, user: String): Unit = {
    requireAdmin(spark, s"GRANT ROLE $role")
    val r = role.toLowerCase
    require(roles.contains(r), s"unknown role: $role")
    val u = users.getOrElse(user.toLowerCase,
      throw new IllegalArgumentException(s"unknown user: $user"))
    users.put(u.name, u.copy(roles = u.roles + r,
      admin = u.admin || r == AdminRole))
    persist()
  }

  def revokeRole(spark: SparkSession, role: String, user: String): Unit = {
    requireAdmin(spark, s"REVOKE ROLE $role")
    val r = role.toLowerCase
    users.get(user.toLowerCase).foreach(u =>
      users.put(u.name, u.copy(roles = u.roles - r,
        admin = u.admin && r != AdminRole)))
    persist()
  }

  /** Normalize a privilege object: catalog NAMES lowercase (SQL identifier
    * folding); PATHS keep their case — the filesystem is case-sensitive,
    * and folding would let a grant on `/data/Public.parquet` authorize
    * reads of a distinct `/data/public.parquet`. */
  def normObj(obj: String): String =
    if (obj.contains("/")) graft.accel.Reflections.normPath(obj)
    else obj.toLowerCase

  def grant(spark: SparkSession, action: String, obj: String,
            kind: String, grantee: String): Unit = {
    requireAdminOrOwner(spark, normObj(obj), s"GRANT $action ON $obj")
    val k = (kind.toLowerCase, grantee.toLowerCase)
    if (kind.equalsIgnoreCase("user")) require(users.contains(k._2), s"unknown user: $grantee")
    else require(roles.contains(k._2), s"unknown role: $grantee")
    grants.updateWith(k) {
      case Some(s) => Some(s + ((action.toLowerCase, normObj(obj))))
      case None => Some(Set((action.toLowerCase, normObj(obj))))
    }
    invalidateClosures()
    persist()
  }

  /** REVOKE. `REVOKE ALL` strips EVERY action on the object (the revoke
    * an operator means when locking a dataset down); `REVOKE SELECT`
    * against a standing ALL grant REFUSES loudly — silently removing the
    * (select, obj) pair would leave the implying (all, obj) pair behind
    * and the principal would keep reading after a revocation the
    * operator believes took effect. */
  def revoke(spark: SparkSession, action: String, obj: String,
             kind: String, grantee: String): Unit = {
    requireAdminOrOwner(spark, normObj(obj), s"REVOKE $action ON $obj")
    val a = action.toLowerCase
    val o = normObj(obj)
    grants.updateWith((kind.toLowerCase, grantee.toLowerCase)) {
      case Some(s) =>
        if (a == "all") Some(s.filterNot(_._2 == o))
        else {
          require(!s.contains(("all", o)),
            s"REVOKE $action ON $obj: grantee holds ALL on the object — " +
              "REVOKE ALL instead (removing only SELECT would leave access intact)")
          Some(s - ((a, o)))
        }
      case None => None
    }
    invalidateClosures()
    persist()
  }

  /** Verify credentials and bind the principal to the session (random
    * token in the session conf — the conf alone, without a valid token,
    * never authenticates). Returns the token. */
  def login(spark: SparkSession, name: String, password: String): String = {
    val u = users.getOrElse(name.toLowerCase,
      throw new SecurityException(s"authentication failed for '$name'"))
    if (sha(u.salt + password) != u.hash)
      throw new SecurityException(s"authentication failed for '$name'")
    val tok = { val b = new Array[Byte](24); rng.nextBytes(b)
      b.map("%02x".format(_)).mkString }
    tokens.put(tok, u.name)
    spark.conf.set(TokenConf, tok)
    spark.conf.set(UserConf, u.name)
    tok
  }

  /** Log `spark` in with the credentials of an `Authorization: Basic`
    * header (the REST and Flight wires share this decoder). None when the
    * header is absent or not Basic; otherwise the token. Throws
    * IllegalArgumentException for a malformed payload and
    * SecurityException for wrong credentials. */
  def loginBasic(spark: SparkSession, header: String): Option[String] =
    if (header == null || !header.regionMatches(true, 0, "Basic ", 0, 6)) None
    else {
      val raw = new String(java.util.Base64.getDecoder.decode(header.substring(6).trim),
        java.nio.charset.StandardCharsets.UTF_8)
      val i = raw.indexOf(':')
      if (i < 0) throw new IllegalArgumentException("malformed basic credentials")
      Some(login(spark, raw.substring(0, i), raw.substring(i + 1)))
    }

  /** The session's AUTHENTICATED principal, or None. */
  def principalOf(spark: SparkSession): Option[User] =
    spark.conf.getOption(TokenConf).flatMap(t => Option(tokens.get(t)))
      .flatMap(users.get)

  /** Lookup a principal by name (deferred re-authorization: reflection
    * refresh re-checking its creating principal's grants). */
  def userByName(name: String): Option[User] = users.get(name.toLowerCase)

  def isAdminSession(spark: SparkSession): Boolean =
    principalOf(spark).exists(_.admin)

  /** Admin gate for auth DDL: free while enforcement is off (bootstrap),
    * admin-principal-only while on. */
  def requireAdmin(spark: SparkSession, what: String): Unit =
    if (enforceFlag && !isAdminSession(spark))
      throw new SecurityException(
        s"$what requires an authenticated admin principal " +
          s"(principal: ${principalOf(spark).map(_.name).getOrElse("<none>")})")

  // ---- permission cache (reference SqlClearSourcePermissionCache,
  // alter.ftl:60): the grant CLOSURE (user ∪ role grants) is evaluated
  // per identified relation per statement by the check rule — at
  // wire-serving rates that union is recomputed thousands of times for
  // an unchanged registry, so it's memoized per user and invalidated
  // wholesale on ANY grant/role mutation (invalidation-on-write keeps
  // revocations instant; the cache can never serve a stale DENY-to-ALLOW
  // or ALLOW-to-DENY transition). `ALTER SOURCE ... CLEAR PERMISSION
  // CACHE` drops it explicitly — engine-wide, since our grants are one
  // registry rather than per-external-ACL (documented divergence: the
  // sandbox has no external ACL systems to cache). ----
  // The cache key carries a GENERATION stamp read before the closure is
  // computed: invalidation bumps the generation AFTER the grants-map
  // mutation, so a reader preempted between computing a closure from
  // pre-revoke grants and inserting it can only insert under the OLD
  // generation — a key no post-revoke lookup ever reads. A bare
  // clear()-only design would race exactly there and cache a stale
  // ALLOW in the security path. The clear on bump is memory reclaim.
  private val grantClosures = TrieMap.empty[(Long, String), Set[(String, String)]]
  private val closureGen = new java.util.concurrent.atomic.AtomicLong()

  private def invalidateClosures(): Unit = {
    closureGen.incrementAndGet()
    grantClosures.clear()
  }

  /** Drop every memoized grant closure; returns how many were held. */
  def clearPermissionCache(): Int = {
    val n = grantClosures.size
    invalidateClosures()
    n
  }

  /** Every (action, object) the user holds, directly or via roles. */
  private def effectiveGrants(u: User): Set[(String, String)] = {
    val gen = closureGen.get() // MUST be read before the grants maps
    grantClosures.getOrElseUpdate(
      (gen, u.name + "|" + u.roles.toSeq.sorted.mkString(",")),
      grants.getOrElse(("user", u.name), Set.empty) ++
        u.roles.flatMap(r => grants.getOrElse(("role", r), Set.empty)))
  }

  /** Does a catalog listing show `obj` to `principal`? Everything while
    * enforcement is off; otherwise only what the principal may SELECT —
    * the rule statement execution enforces, so no listing discloses the
    * schema of an ungranted dataset. The REST catalog and the Flight
    * ListFlights / GetTables listings all apply it. */
  def visible(principal: Option[User], obj: String): Boolean =
    !enforcing || principal.exists(u => allowed(u, "select", normObj(obj)))

  /** Does the user hold `action` (or ALL) on `obj` (or `*`, or a
    * covering CONTAINER grant)? `obj` must already be normalized.
    * Container grants (reference `GRANT ... ON ALL DATASETS IN
    * FOLDER|SOURCE`, grant.ftl:215) store as the normalized path plus
    * a star suffix and cover every dataset path under the prefix. */
  def allowed(u: User, action: String, obj: String): Boolean =
    u.admin || isOwner(u, obj) || {
      val gs = effectiveGrants(u)
      val acts = Set(action.toLowerCase, "all")
      // Container grants cover DATASET paths only: the synthetic sub-object
      // keys under a folder (refObj `path@branch:`/`@tag:`, catalogObj
      // `path@catalog`) must NOT ride a GRANT ... ON ALL DATASETS IN
      // FOLDER (it would silently convey per-ref COMMIT and catalog
      // CREATE_BRANCH/CREATE_TAG beyond the datasets the statement
      // names). The exclusion matches the EXACT synthetic suffixes, not
      // any '@' — '@' is a legal path character (user dirs, emails), and
      // a dataset at /data/team@eu/t must stay covered.
      gs.exists { case (a, o) => acts(a) && (o == "*" || o == obj ||
        (o.endsWith("/*") && obj.startsWith(o.dropRight(1)) &&
          !syntheticSubObject(obj, o.length - 1))) }
    }

  /** Does `obj` carry one of the engine's synthetic sub-object suffixes
    * ([[refObj]] `@branch:`/`@tag:`, [[catalogObj]] `@catalog`) at or
    * after `from`? A directory literally named `x@branch:y` would
    * false-positive here — accepted: the synthetic namespace is the
    * engine's own convention and documented as reserved. */
  private def syntheticSubObject(obj: String, from: Int): Boolean = {
    var i = obj.indexOf('@', math.max(from, 0))
    while (i >= 0) {
      val rest = obj.substring(i + 1)
      if (rest.startsWith("branch:") || rest.startsWith("tag:") ||
          rest == "catalog") return true
      i = obj.indexOf('@', i + 1)
    }
    false
  }

  /** GRANT/REVOKE ... ON ALL DATASETS IN FOLDER '<dir>' (grant.ftl:215
    * SqlGrantOnAllDatasets): one grant covering every dataset path under
    * the container — the team-gets-the-warehouse-subtree shape. Admin or
    * the container path's owner may issue it. */
  def grantOnAllDatasets(spark: SparkSession, action: String, dir: String,
                         kind: String, grantee: String,
                         granting: Boolean): Unit = {
    val o = normObj(dir).stripSuffix("/") + "/*"
    requireAdminOrOwner(spark, normObj(dir),
      s"${if (granting) "GRANT" else "REVOKE"} ON ALL DATASETS IN $dir")
    grantRaw(spark, Seq(action), o, kind, grantee, granting)
  }

  // ---- ownership (reference SqlGrantOwnership, grant.ftl:708): the owner
  // of an object holds every privilege on it AND may GRANT/REVOKE on it —
  // delegated administration without the admin role ----

  private val owners = TrieMap.empty[String, (String, String)] // obj -> (kind, grantee)

  /** Does the user own `obj` (directly or via a role)? `obj` normalized. */
  def isOwner(u: User, obj: String): Boolean = owners.get(obj).exists {
    case ("user", g) => g == u.name
    case ("role", g) => u.roles.contains(g)
    case _ => false
  }

  /** GRANT OWNERSHIP ON obj TO USER|ROLE g — admin or CURRENT owner only
    * (ownership transfers, it doesn't fan out). */
  def grantOwnership(spark: SparkSession, obj: String, kind: String,
                     grantee: String): Unit = {
    val o = normObj(obj)
    requireAdminOrOwner(spark, o, s"GRANT OWNERSHIP ON $obj")
    val k = kind.toLowerCase
    val g = grantee.toLowerCase
    if (k == "user") require(users.contains(g), s"unknown user: $grantee")
    else require(roles.contains(g), s"unknown role: $grantee")
    owners.put(o, (k, g))
    persist()
  }

  def ownerOf(obj: String): Option[(String, String)] = owners.get(normObj(obj))

  /** Admin, or the object's owner — the gate for per-object GRANT/REVOKE
    * and ownership transfer. */
  def requireAdminOrOwner(spark: SparkSession, normedObj: String, what: String): Unit =
    if (enforceFlag && !isAdminSession(spark) &&
        !principalOf(spark).exists(isOwner(_, normedObj)))
      throw new SecurityException(
        s"$what requires an admin principal or the object's owner " +
          s"(principal: ${principalOf(spark).map(_.name).getOrElse("<none>")})")

  /** Write-side gate (reference grant.ftl privilege checks): while
    * enforcement is on, a mutation needs the matching action (or ALL) on
    * the object, ownership, or admin — the same rule the Flight DoPut
    * ingest applies, now uniform across every SQL mutation surface. */
  def requireAction(spark: SparkSession, action: String, obj: String,
                    what: String): Unit =
    if (enforceFlag) {
      val u = principalOf(spark).getOrElse(throw new SecurityException(
        s"$what requires an authenticated principal while auth enforcement is on"))
      if (!allowed(u, action, normObj(obj)))
        throw new SecurityException(
          s"principal '${u.name}' lacks ${action.toUpperCase} on $obj " +
            s"(GRANT ${action.toUpperCase} ON ... TO USER|ROLE ... to allow)")
    }

  // ---- reference-scoped grants (reference SqlGrantOnReference,
  // grant.ftl:240-256 `GRANT ... ON BRANCH|TAG ref IN CATALOG cat TO ...`;
  // the OSS edition parses but refuses at CommandCreator.java:669 — we
  // implement the semantics): a privilege held on ONE branch or tag of a
  // lake table, narrower than a table-wide grant. COMMIT authorizes
  // mutations targeting that branch; USAGE authorizes pinning reads to
  // the ref. Table-wide grants stay sufficient (broad covers narrow);
  // ref grants never leak to main or to sibling refs. ----

  /** Valid privileges on a reference (subset of the reference's
    * SqlGrantCatalog.Privilege that is meaningful per-ref). */
  val RefPrivileges: Set[String] = Set("usage", "commit", "all")
  /** Valid privileges on a catalog as a whole (SqlGrantCatalog.Privilege):
    * CREATE_BRANCH/CREATE_TAG gate ref creation; the rest fold into the
    * table-wide grant model. */
  val CatalogPrivileges: Set[String] =
    Set("usage", "manage_grants", "create_branch", "create_tag",
      "modify", "commit", "all")

  /** Storage key for a ref-scoped grant: the normalized table path plus a
    * `@branch:`/`@tag:` suffix. Never collides with a plain object —
    * normObj output for paths/names contains no '@'. */
  def refObj(dir: String, refType: String, ref: String): String =
    normObj(dir) + "@" + refType.toLowerCase + ":" + ref.toLowerCase

  /** GRANT p1[,...] ON BRANCH|TAG ref IN CATALOG '<dir>' TO USER|ROLE g.
    * Same admin-or-owner gate as a table grant (owner of the TABLE may
    * delegate per-ref access). */
  def grantOnRef(spark: SparkSession, actions: Seq[String], dir: String,
                 refType: String, ref: String, kind: String,
                 grantee: String): Unit = {
    requireAdminOrOwner(spark, normObj(dir), s"GRANT ON $refType $ref")
    val bad = actions.map(_.toLowerCase).filterNot(RefPrivileges)
    require(bad.isEmpty,
      s"privilege ${bad.mkString(", ").toUpperCase} not grantable on a " +
        s"$refType (valid: ${RefPrivileges.map(_.toUpperCase).mkString(", ")})")
    val k = (kind.toLowerCase, grantee.toLowerCase)
    if (kind.equalsIgnoreCase("user")) require(users.contains(k._2), s"unknown user: $grantee")
    else require(roles.contains(k._2), s"unknown role: $grantee")
    val o = refObj(dir, refType, ref)
    val add = actions.map(a => (a.toLowerCase, o)).toSet
    grants.updateWith(k) {
      case Some(s) => Some(s ++ add)
      case None => Some(add)
    }
    invalidateClosures()
    persist()
  }

  /** REVOKE ... ON BRANCH|TAG ... FROM — same ALL-vs-narrow contract as
    * [[revoke]]: revoking a single privilege while ALL stands refuses. */
  def revokeOnRef(spark: SparkSession, actions: Seq[String], dir: String,
                  refType: String, ref: String, kind: String,
                  grantee: String): Unit = {
    requireAdminOrOwner(spark, normObj(dir), s"REVOKE ON $refType $ref")
    val badR = actions.map(_.toLowerCase).filterNot(RefPrivileges)
    require(badR.isEmpty,
      s"privilege ${badR.mkString(", ").toUpperCase} not revocable on a " +
        s"$refType (valid: ${RefPrivileges.map(_.toUpperCase).mkString(", ")}) — " +
        "a typo'd revoke must not silently leave access standing")
    val o = refObj(dir, refType, ref)
    val as = actions.map(_.toLowerCase)
    grants.updateWith((kind.toLowerCase, grantee.toLowerCase)) {
      case Some(s) =>
        if (as.contains("all")) Some(s.filterNot(_._2 == o))
        else {
          require(!s.contains(("all", o)),
            s"REVOKE on $refType $ref: grantee holds ALL on the ref — " +
              "REVOKE ALL instead (removing one privilege would leave access intact)")
          Some(s -- as.map(a => (a, o)))
        }
      case None => None
    }
    invalidateClosures()
    persist()
  }

  /** Does the user hold `action` (or ALL) on the specific ref? */
  def allowedOnRef(u: User, action: String, dir: String, refType: String,
                   ref: String): Boolean =
    allowed(u, action, refObj(dir, refType, ref))

  /** Gate for a mutation targeting a BRANCH (statement-level AT BRANCH or
    * a session pin): the table-wide action suffices, and so does COMMIT
    * on that branch — the reference's per-ref write privilege. */
  def requireBranchAction(spark: SparkSession, tableAction: String,
                          dir: String, branch: String, what: String): Unit =
    if (enforceFlag) {
      val u = principalOf(spark).getOrElse(throw new SecurityException(
        s"$what requires an authenticated principal while auth enforcement is on"))
      if (!allowed(u, tableAction, normObj(dir)) &&
          !allowedOnRef(u, "commit", dir, "branch", branch))
        throw new SecurityException(
          s"principal '${u.name}' lacks ${tableAction.toUpperCase} on $dir " +
            s"and COMMIT on branch '$branch' (GRANT COMMIT ON BRANCH $branch " +
            s"IN CATALOG '$dir' TO USER|ROLE ... to allow branch-scoped writes)")
    }

  // A branch write is authorized as a STATEMENT (requireBranchAction
  // passed), but its copy-on-write implementation plans reads of the
  // table's own files — and the analysis-time check rule would demand
  // table-wide SELECT the grantee deliberately doesn't hold. The command
  // layer wraps exactly those engine calls in withStatementAuthorized:
  // reads of THAT table's files are pre-authorized for the wrapped body
  // (same thread — Spark analysis runs on the calling thread), nothing
  // else is. The user-supplied query text is analyzed BEFORE the wrap,
  // so it can't smuggle reads of other tables through the window.
  private val stmtAuthorized = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Run `body` with reads of `dir`'s files pre-authorized on this
    * thread (see above). Nests and restores on exit. */
  def withStatementAuthorized[T](dir: String)(body: => T): T = {
    val prev = stmtAuthorized.get()
    stmtAuthorized.set(prev + normObj(dir))
    try body finally stmtAuthorized.set(prev)
  }

  /** Is `objNorm` (a normalized table path or one of its files) covered
    * by an active statement authorization on this thread? */
  def statementAuthorizedFor(objNorm: String): Boolean =
    stmtAuthorized.get().exists(d => objNorm == d || objNorm.startsWith(d + "/"))

  // SYSTEM context (the reference runs reflection maintenance under its
  // SYSTEM user — ReflectionManager's refresh jobs don't carry an end-user
  // principal): engine-INTERNAL re-analysis, e.g. reattaching persisted
  // reflection goals at startup, runs with the check rule bypassed on this
  // thread. The SQL being re-analyzed was authorized when the goal was
  // created; startup has no principal to re-authorize it as. Never wraps
  // user-supplied statements.
  private val systemContext = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  def inSystemContext: Boolean = systemContext.get()

  def withSystemContext[T](body: => T): T = {
    val prev = systemContext.get()
    systemContext.set(java.lang.Boolean.TRUE)
    try body finally systemContext.set(prev)
  }

  /** Gate for pinning reads to a ref (USE BRANCH|TAG, CREATE LAKE VIEW AT,
    * MERGE DRY RUN): table-wide SELECT suffices, and so does USAGE on the
    * ref. */
  def requireRefUsage(spark: SparkSession, dir: String, refType: String,
                      ref: String, what: String): Unit =
    if (enforceFlag) {
      val u = principalOf(spark).getOrElse(throw new SecurityException(
        s"$what requires an authenticated principal while auth enforcement is on"))
      if (!allowed(u, "select", normObj(dir)) &&
          !allowedOnRef(u, "usage", dir, refType, ref))
        throw new SecurityException(
          s"principal '${u.name}' lacks SELECT on $dir and USAGE on " +
            s"$refType '$ref' (GRANT USAGE ON ${refType.toUpperCase} $ref " +
            s"IN CATALOG '$dir' TO USER|ROLE ... to allow)")
    }

  /** Gate for CREATE BRANCH|TAG: table-wide ALTER suffices, and so does a
    * catalog-level CREATE_BRANCH/CREATE_TAG grant on the table
    * (SqlGrantCatalog.Privilege). */
  def requireCreateRef(spark: SparkSession, dir: String, refType: String,
                       what: String): Unit =
    if (enforceFlag) {
      val u = principalOf(spark).getOrElse(throw new SecurityException(
        s"$what requires an authenticated principal while auth enforcement is on"))
      val createPriv = s"create_$refType"
      if (!allowed(u, "alter", normObj(dir)) &&
          !allowed(u, createPriv, catalogObj(dir)))
        throw new SecurityException(
          s"principal '${u.name}' lacks ALTER and ${createPriv.toUpperCase} " +
            s"on $dir (GRANT ${createPriv.toUpperCase} ON CATALOG '$dir' " +
            "TO USER|ROLE ... to allow)")
    }

  /** Gate for DROP BRANCH|TAG: table-wide ALTER suffices, and so does
    * COMMIT on the ref itself (you may retire a ref you can write). */
  def requireRefDrop(spark: SparkSession, dir: String, refType: String,
                     ref: String, what: String): Unit =
    if (enforceFlag) {
      val u = principalOf(spark).getOrElse(throw new SecurityException(
        s"$what requires an authenticated principal while auth enforcement is on"))
      if (!allowed(u, "alter", normObj(dir)) &&
          !allowedOnRef(u, "commit", dir, refType, ref))
        throw new SecurityException(
          s"principal '${u.name}' lacks ALTER on $dir and COMMIT on " +
            s"$refType '$ref'")
    }

  /** GRANT p1[,...] ON CATALOG '<dir>' TO — catalog-level privileges
    * (SqlGrantCatalog); CREATE_BRANCH/CREATE_TAG feed [[requireCreateRef]],
    * the rest are held-and-listable (their enforcement surface is the
    * table-wide grant model). */
  /** Storage key for catalog-level privileges: DISTINCT from the plain
    * table object so `REVOKE ALL ON CATALOG` can never silently strip a
    * grantee's table grants on the same dir (and vice versa). */
  def catalogObj(dir: String): String = normObj(dir) + "@catalog"

  def grantOnCatalog(spark: SparkSession, actions: Seq[String], dir: String,
                     kind: String, grantee: String, granting: Boolean): Unit = {
    requireAdminOrOwner(spark, normObj(dir),
      s"${if (granting) "GRANT" else "REVOKE"} ON CATALOG $dir")
    val bad = actions.map(_.toLowerCase).filterNot(CatalogPrivileges)
    require(bad.isEmpty,
      s"privilege ${bad.mkString(", ").toUpperCase} not valid ON CATALOG " +
        s"(valid: ${CatalogPrivileges.map(_.toUpperCase).mkString(", ")})")
    grantRaw(spark, actions, catalogObj(dir), kind, grantee, granting)
  }

  /** Store-layer grant/revoke on a PRE-BUILT object key (script grants —
    * [[graft.catalog.Scripts]] owns the authorization gate and the key
    * spelling; grantee validation and the ALL-vs-narrow revoke contract
    * live here with the store). */
  def grantRaw(spark: SparkSession, actions: Seq[String], obj: String,
               kind: String, grantee: String, granting: Boolean): Unit = {
    val k = (kind.toLowerCase, grantee.toLowerCase)
    if (granting) {
      if (kind.equalsIgnoreCase("user")) require(users.contains(k._2), s"unknown user: $grantee")
      else require(roles.contains(k._2), s"unknown role: $grantee")
    }
    val pairs = actions.map(a => (a.toLowerCase, obj)).toSet
    grants.updateWith(k) {
      case Some(s) => Some(if (granting) s ++ pairs
        else if (actions.exists(_.equalsIgnoreCase("all"))) s.filterNot(_._2 == obj)
        else {
          require(!s.contains(("all", obj)),
            s"REVOKE on $obj: grantee holds ALL — REVOKE ALL instead " +
              "(removing one privilege would leave access intact)")
          s -- pairs
        })
      case None => if (granting) Some(pairs) else None
    }
    invalidateClosures()
    persist()
  }

  /** Remove EVERY grant on a pre-built object key, for all grantees —
    * an object's grants die with the object (DROP SCRIPT), never to
    * resurrect onto a later namesake. */
  def purgeObject(obj: String): Unit = {
    grants.keys.toSeq.foreach { k =>
      grants.updateWith(k) {
        case Some(s) =>
          val n = s.filterNot(_._2 == obj)
          if (n.isEmpty) None else Some(n)
        case None => None
      }
    }
    invalidateClosures()
    persist()
  }

  /** Every object name the user holds SELECT (or ALL) on, directly or via
    * roles — used by the check rule's granted-view-body cover. */
  def grantedObjects(u: User): Set[String] =
    effectiveGrants(u).collect { case (a, o) if a == "select" || a == "all" => o }

  /** sys_privileges rows: (grantee_kind, grantee, action, object). */
  def listGrants: Seq[(String, String, String, String)] =
    grants.toSeq.flatMap { case ((k, g), s) =>
      s.toSeq.map { case (a, o) => (k, g, a, o) } }.sorted

  def listUsers: Seq[User] = users.values.toSeq.sortBy(_.name)
  def listRoles: Seq[String] = roles.keys.toSeq.sorted

  /** Test/bootstrap reset: drops everything and disables enforcement —
    * including the durable section (a deliberate reset must not
    * resurrect on the next load). */
  def clear(): Unit = synchronized {
    resetMemory()
    graft.catalog.GraftStore.sessionForPersist
      .foreach(s => graft.catalog.GraftStore.delete(s, "auth"))
  }

  // ---- durability (GraftStore section "auth"; reference services/users +
  // the RBAC grants the enterprise edition keeps in the KV store) ----

  private def resetMemory(keepTokens: Boolean = false): Unit = {
    users.clear(); roles.clear(); grants.clear(); owners.clear()
    invalidateClosures()
    // a RESTART starts with zero tokens (clients re-auth), but loadFrom
    // on an already-serving JVM (REST server starting mid-session) must
    // not log out live principals whose users the store still carries
    if (!keepTokens) tokens.synchronized(tokens.clear())
    roles.put(AdminRole, true)
    enforceFlag = false
  }

  /** Persist the full auth world after a mutation. Session tokens are
    * deliberately NOT persisted: a restart invalidates outstanding
    * logins (clients re-authenticate — credentials, not sessions, are
    * the durable artifact).
    *
    * Auth saves are STRICT and SERIALIZED, unlike the other registries'
    * best-effort contract: a REVOKE or DROP USER whose durable save
    * silently failed resurrects the privilege at the next restart, so a
    * failed save fails the mutating statement (the in-memory change is
    * live in THIS process — the error tells the operator durability is
    * broken, it does not pretend the statement never ran); and the
    * snapshot is taken under the lock so two concurrent mutations cannot
    * race each other's whole-world rewrite (whichever save runs second
    * carries both mutations). */
  private val persistLock = new Object
  private def persist(): Unit = persistLock.synchronized {
    graft.catalog.GraftStore.sessionForPersist.foreach { spark =>
      val st = graft.catalog.GraftStore
      val root = st.newObject
      root.put("enforce", enforceFlag)
      val us = root.putArray("users")
      users.values.toSeq.sortBy(_.name).foreach { u =>
        val o = us.addObject()
        o.put("name", u.name); o.put("hash", u.hash); o.put("salt", u.salt)
        o.put("admin", u.admin)
        val rs = o.putArray("roles")
        u.roles.toSeq.sorted.foreach(rs.add)
      }
      val rl = root.putArray("roles")
      roles.keys.toSeq.sorted.foreach(rl.add)
      val gs = root.putArray("grants")
      grants.toSeq.sortBy(t => (t._1._1, t._1._2)).foreach { case ((k, g), set) =>
        set.toSeq.sorted.foreach { case (a, ob) =>
          val o = gs.addObject()
          o.put("kind", k); o.put("grantee", g); o.put("action", a); o.put("obj", ob)
        }
      }
      val ow = root.putArray("owners")
      owners.toSeq.sortBy(_._1).foreach { case (ob, (k, g)) =>
        val o = ow.addObject()
        o.put("obj", ob); o.put("kind", k); o.put("grantee", g)
      }
      // strict (a silently-unpersisted REVOKE resurrects at restart) with
      // the shared conflict-resync contract; remaining failures are plain
      // IO durability trouble, surfaced as such
      try st.saveResync(spark, "auth", root, strict = true)(loadFrom)
      catch {
        case e: IllegalStateException => throw e // resync guidance as-is
        case e: Exception => throw new IllegalStateException(
          "durable auth save failed — the change is live in this process " +
            s"but will NOT survive a restart: $e", e)
      }
    }
  }

  /** Reload the auth world from the durable store (no-op when the store
    * holds no section — a fresh deployment starts empty). Pre-restart
    * grants enforce again immediately; tokens start empty (re-auth). */
  def loadFrom(spark: SparkSession): Unit = synchronized {
    graft.catalog.GraftStore.load(spark, "auth").foreach { root =>
      resetMemory(keepTokens = true)
      // stale tokens for users the store no longer carries die here
      val storedNames = scala.collection.mutable.Set.empty[String]
      root.path("users").forEach(u => storedNames.add(u.path("name").asText()))
      tokens.synchronized(tokens.values.removeIf(n => !storedNames.contains(n)))
      root.path("roles").forEach(r => roles.put(r.asText(), true))
      roles.put(AdminRole, true)
      root.path("users").forEach { u =>
        val rs = scala.collection.mutable.Set.empty[String]
        u.path("roles").forEach(r => rs.add(r.asText()))
        users.put(u.path("name").asText(), User(u.path("name").asText(),
          u.path("hash").asText(), u.path("salt").asText(),
          u.path("admin").asBoolean(false), rs.toSet))
      }
      root.path("grants").forEach { g =>
        val k = (g.path("kind").asText(), g.path("grantee").asText())
        val pair = (g.path("action").asText(), g.path("obj").asText())
        grants.updateWith(k) {
          case Some(s) => Some(s + pair)
          case None => Some(Set(pair))
        }
      }
      root.path("owners").forEach { o =>
        owners.put(o.path("obj").asText(),
          (o.path("kind").asText(), o.path("grantee").asText()))
      }
      enforceFlag = root.path("enforce").asBoolean(false)
      invalidateClosures()
    }
  }

  /** Restart simulation for specs: drop ONLY the in-memory world (the
    * durable section survives, exactly like a process exit). */
  private[graft] def resetMemoryForTest(): Unit = synchronized { resetMemory() }
}
