package graft.server

import org.apache.spark.sql.SparkSession

import graft.auth.Privileges

/** The statement service under the REST and Flight front ends (the
  * reference runs `SQLResource` and `DremioFlightProducer` statements
  * through one jobs service, `LocalJobsService`). A statement takes one
  * path whichever wire carried it:
  *  1. [[open]] opens the request session: a new session over the
  *     server's, the caller's credentials bound by one binder, and every
  *     dataset promoted over REST registered;
  *  2. `Graft.sql` builds the statement in that session (plan cache,
  *     WLM admission, the running-statement ledger);
  *  3. one Bridge runner runs the statement's own physical plan once
  *     inside one SQL execution — `Bridge.takeJson` for REST rows,
  *     `Bridge.runArrow` for Flight's Arrow batches — so the ledger's
  *     listener attributes, cancels and retires it, and the query history
  *     records it, exactly as for an in-process action.
  * Each front end keeps only its framing and its status mapping. */
object Statements {

  /** What a request says about its caller: an `authorization` header
    * (Basic or Bearer) or the REST body's `user`/`password`. */
  final case class Credentials(header: Option[String] = None,
                               user: Option[String] = None,
                               password: Option[String] = None)

  /** A request session with its bound principal, and the bearer token
    * minted when the credentials were a password. */
  final case class Opened(session: SparkSession, principal: Option[Privileges.User],
                          bearer: Option[String])

  def isBasic(header: String): Boolean = header.regionMatches(true, 0, "Basic ", 0, 6)

  /** Open the session a request runs in. Left is the refusal reason: bad,
    * unknown or unsupported credentials always; none at all only when
    * `required` and auth enforcement is on (a REST `/sql` caller without
    * credentials runs anonymous, and the check rule refuses guarded
    * reads). */
  def open(root: SparkSession, creds: Credentials, required: Boolean): Either[String, Opened] = {
    val session = root.newSession()
    bind(session, creds, required).map { bearer =>
      GraftRestServer.applyPromotions(session)
      Opened(session, Privileges.principalOf(session), bearer)
    }
  }

  /** The one credential binder: log `session` in and return the minted
    * token (Basic header or body password), or adopt a Bearer token. */
  private def bind(session: SparkSession, creds: Credentials,
                   required: Boolean): Either[String, Option[String]] =
    try (creds.header.filter(_.nonEmpty), creds.user) match {
      case (Some(h), _) if isBasic(h) => Right(Privileges.loginBasic(session, h))
      case (Some(h), _) if h.regionMatches(true, 0, "Bearer ", 0, 7) =>
        session.conf.set(Privileges.TokenConf, h.substring(7).trim)
        if (Privileges.principalOf(session).isEmpty) Left("unknown or expired bearer token")
        else Right(None)
      case (Some(_), _) => Left("unsupported authorization scheme")
      case (None, Some(u)) => Right(Some(Privileges.login(session, u, creds.password.getOrElse(""))))
      case (None, None) =>
        if (required && Privileges.enforcing)
          Left("credentials required while auth enforcement is on")
        else Right(None)
    } catch {
      case e @ (_: SecurityException | _: IllegalArgumentException) => Left(e.getMessage)
    }
}
