"""API spec machinery: auth flows, endpoint DAG, queues.

Reference surface (public repo ``slingdata-io/sling-cli``):

- ``core/dbio/api/auth.go`` — authenticator kinds. Implemented here:
  ``bearer`` (static token header), ``basic`` (base64 user:pass),
  ``static`` (arbitrary rendered headers), ``oauth2`` with the
  ``client_credentials`` flow (POST to ``authentication_url``, token into
  ``auth.token`` state, Bearer header), plus 401-triggered re-auth
  (``EnsureAuthenticated`` / ``IsAuthExpired``, auth.go:100-193).
  Browser-interactive OAuth2 flows (authorization-code, device-code) are
  out of scope for a headless engine.
- ``core/dbio/api/spec.go:1041-1205`` — endpoint ``iterate`` (loop a
  request template over a value list / parent queue with per-iteration
  state) and dependency ordering between endpoints.
- ``core/dbio/iop/queue.go:20-60`` — the queue bridging producer and
  consumer endpoints, with a done-sentinel and two consume modes
  (``deferred`` waits for the producer; ``immediate`` tails it).

Spark posture: HTTP fetch is inherently driver-side (serial pages per
iteration); the DISTRIBUTED part starts when records land in a
DataFrame. Iterations fan out over a bounded thread pool (I/O-bound), so
a parent with 10k child iterations doesn't serialize — this mirrors the
reference's iteration concurrency (spec.go Iterate.Concurrency).

All request fields render through ``sling_cli_spark.expressions`` with
the reference's namespaces: ``env`` / ``state`` / ``secrets`` / ``auth``
/ ``response`` / ``sync``.
"""

from __future__ import annotations

import base64
import itertools
import logging
import re
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Iterator

from sling_cli_spark.expressions import Evaluator

from sling_cli_spark.localframe import local_df
from sling_cli_spark.sources.api import Transport, _default_transport, _extract_path


def _apply_jq(body: Any, program: str) -> Any:
    """Tiny jq-subset interpreter for ``response.records.jq`` — the
    shapes the reference's own specs use
    (tests/specs/api_select_columns/spec.yaml:84):
    ``.items[] | {id: .id, label: .full_name}`` — dotted navigation,
    ``[]`` explode, and object construction from dotted paths. A jq
    binary is environmental; this covers the corpus's programs."""
    def nav(obj: Any, path: str) -> Any:
        path = path.strip().lstrip(".")
        return _extract_path(obj, path) if path else obj

    cur: Any = body
    exploded = False
    for stage in _split_jq(program):
        stage = stage.strip()
        if stage.startswith("{") and stage.endswith("}"):
            pairs = []
            for part in stage[1:-1].split(","):
                k, _, v = part.partition(":")
                pairs.append((k.strip().strip('"'), v.strip()))

            def build(item):
                return {k: nav(item, v) for k, v in pairs}

            cur = [build(x) for x in cur] if exploded and \
                isinstance(cur, list) else build(cur)
        else:
            explode_it = stage.endswith("[]")
            path = stage[:-2] if explode_it else stage
            if exploded and isinstance(cur, list):
                cur = [nav(x, path) for x in cur]
            else:
                cur = nav(cur, path)
            if explode_it:
                exploded = True
                if not isinstance(cur, list):
                    cur = [] if cur is None else [cur]
    return cur


def _split_jq(program: str) -> list[str]:
    """Split a jq program on top-level ``|`` (pipes inside ``{}`` stay)."""
    out, depth, buf = [], 0, []
    for ch in program:
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        if ch == "|" and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return out


# ------------------------------------------------------------------ queue

class Queue:
    """In-memory producer/consumer queue (reference: iop/queue.go).

    ``consume(deferred=True)`` (the default mode) waits until the
    producer calls :meth:`mark_done`, then yields from the start —
    matching ConsumeDeferred. ``deferred=False`` tails the queue live
    (ConsumeImmediate), yielding as items arrive until done."""

    def __init__(self, name: str = "", path: str | None = None):
        self.name = name
        self._items: list[Any] = []
        self._done = threading.Event()
        self._cond = threading.Condition()
        self._path = path
        self._fh = None
        if path:
            # durable mode (reference iop/queue.go:20-33: queues are
            # backed by JSONL files): replay whatever a previous process
            # appended, then keep appending with per-item flush so a
            # crash loses at most the in-flight item
            import json as _json
            import os as _os

            if _os.path.exists(path):
                with open(path) as f:
                    for line in f:
                        if line.strip():
                            self._items.append(_json.loads(line))
            self._fh = open(path, "a")

    def _persist(self, item: Any) -> None:
        if self._fh is not None:
            import json as _json

            self._fh.write(_json.dumps(item) + "\n")
            self._fh.flush()

    def append(self, item: Any) -> None:
        # queue.go Append explodes slices into elements (bytes stay one
        # item, base64-encoded, like Go's json.Marshal of []byte)
        if isinstance(item, (list, tuple)):
            self.extend(item)
            return
        if isinstance(item, (bytes, bytearray)):
            import base64 as _b64

            item = _b64.b64encode(bytes(item)).decode()
        with self._cond:
            self._items.append(item)
            self._persist(item)
            self._cond.notify_all()

    def reset(self) -> None:
        """queue.go Reset: rewind the read cursor to the start."""
        self._cursor = 0

    def next(self) -> tuple[Any, bool]:
        """queue.go Next: sequential (item, has_more) read after a
        reset; (None, False) once drained."""
        cur = getattr(self, "_cursor", 0)
        with self._cond:
            if cur >= len(self._items):
                return None, False
            item = self._items[cur]
        self._cursor = cur + 1
        return item, True

    def extend(self, items) -> None:
        with self._cond:
            for it in items:
                self._items.append(it)
                self._persist(it)
            self._cond.notify_all()

    def close(self) -> None:
        if self._fh is not None:
            self._fh.close()
            self._fh = None

    def mark_done(self) -> None:
        self._done.set()
        with self._cond:
            self._cond.notify_all()

    @property
    def done(self) -> bool:
        return self._done.is_set()

    def __len__(self) -> int:
        with self._cond:
            return len(self._items)

    def consume(self, deferred: bool = True) -> Iterator[Any]:
        if deferred:
            self._done.wait()
            yield from list(self._items)
            return
        i = 0
        while True:
            with self._cond:
                while i >= len(self._items) and not self.done:
                    self._cond.wait(timeout=1.0)
                if i < len(self._items):
                    item = self._items[i]
                    i += 1
                else:  # done and drained
                    return
            yield item


# ------------------------------------------------------------------- auth

class Authenticator:
    """Produces request headers; re-authenticates on 401 (reference:
    EnsureAuthenticated, auth.go:109-193)."""

    def __init__(self):
        self.headers: dict[str, str] = {}
        self.token: str | None = None

    def authenticate(self) -> None:  # pragma: no cover - overridden
        pass

    def handle_unauthorized(self) -> bool:
        """Return True if a retry makes sense (token refreshed)."""
        return False

    def state(self) -> dict[str, Any]:
        """The ``auth.*`` namespace for expression rendering."""
        return {"token": self.token, "headers": dict(self.headers)}


class _NoAuth(Authenticator):
    pass


class BearerAuth(Authenticator):
    def __init__(self, token: str):
        super().__init__()
        self.token = token
        self.headers = {"Authorization": f"Bearer {token}"}


class BasicAuth(Authenticator):
    """auth.go:274-291 — base64(user:pass) Basic header."""

    def __init__(self, username: str, password: str):
        super().__init__()
        b64 = base64.b64encode(f"{username}:{password}".encode()).decode()
        self.headers = {"Authorization": f"Basic {b64}"}


class StaticAuth(Authenticator):
    """auth.go:294-314 — arbitrary pre-rendered headers."""

    def __init__(self, headers: dict[str, str]):
        super().__init__()
        self.headers = dict(headers)


class OAuth2ClientCredentials(Authenticator):
    """auth.go:355-514 client_credentials flow: POST the token endpoint,
    stash ``access_token``, emit a Bearer header; a 401 triggers one
    re-authentication and retry."""

    def __init__(
        self, token_url: str, client_id: str, client_secret: str,
        scopes: list[str] | None = None, transport: Transport | None = None,
    ):
        super().__init__()
        self.token_url = token_url
        self.client_id = client_id
        self.client_secret = client_secret
        self.scopes = scopes or []
        self.transport = transport or _default_transport

    def authenticate(self) -> None:
        params = {
            "grant_type": "client_credentials",
            "client_id": self.client_id,
            "client_secret": self.client_secret,
        }
        if self.scopes:
            params["scope"] = " ".join(self.scopes)
        status, body = self.transport(self.token_url, params, {})
        if status >= 400 or not isinstance(body, dict):
            raise RuntimeError(
                f"oauth2 token endpoint returned {status}: {body}")
        self.token = body.get("access_token")
        if not self.token:
            raise RuntimeError("oauth2 response missing access_token")
        self.headers = {"Authorization": f"Bearer {self.token}"}

    def handle_unauthorized(self) -> bool:
        self.authenticate()  # token likely expired -> fetch a fresh one
        return True


class OAuth2AuthorizationCode(Authenticator):
    """authorization_code + refresh_token grants (auth.go:448-620).

    The reference's interactive leg (browser + localhost callback +
    PKCE) cannot run in a headless engine; this covers the
    NON-interactive legs around it, which is what a pipeline actually
    replays:

    - exchange a supplied one-time ``code`` (from the operator's browser
      dance) at the token endpoint;
    - on startup prefer a stored refresh token (``token_store`` JSON
      file), refreshing immediately — auth.go:448-469 loads the stored
      token the same way;
    - persist rotation: a refresh response carrying a NEW refresh token
      replaces the stored one (auth.go:456-459);
    - a 401 mid-run refreshes once and retries.
    """

    def __init__(
        self, token_url: str, client_id: str, client_secret: str = "",
        code: str | None = None, redirect_uri: str | None = None,
        scopes: list[str] | None = None, token_store: str | None = None,
        transport: Transport | None = None,
    ):
        super().__init__()
        self.token_url = token_url
        self.client_id = client_id
        self.client_secret = client_secret
        self.code = code
        self.redirect_uri = redirect_uri
        self.scopes = scopes or []
        self.token_store = token_store
        self.transport = transport or _default_transport
        self.refresh_token: str | None = None

    # -- token store -----------------------------------------------------
    def _load_store(self) -> dict[str, Any] | None:
        if not self.token_store:
            return None
        import json as _json
        import os as _os

        if not _os.path.exists(self.token_store):
            return None
        try:
            with open(self.token_store) as f:
                return _json.load(f)
        except Exception:
            return None

    def _save_store(self) -> None:
        if not self.token_store:
            return
        import json as _json

        with open(self.token_store, "w") as f:
            _json.dump({"access_token": self.token,
                        "refresh_token": self.refresh_token}, f)

    # -- grants ----------------------------------------------------------
    def _token_request(self, params: dict[str, str]) -> None:
        params = dict(params, client_id=self.client_id)
        if self.client_secret:
            params["client_secret"] = self.client_secret
        if self.scopes:
            params["scope"] = " ".join(self.scopes)
        status, body = self.transport(self.token_url, params, {})
        if status >= 400 or not isinstance(body, dict):
            raise RuntimeError(
                f"oauth2 token endpoint returned {status}: {body}")
        self.token = body.get("access_token")
        if not self.token:
            raise RuntimeError("oauth2 response missing access_token")
        # rotation: only overwrite the refresh token when a new one came
        if body.get("refresh_token"):
            self.refresh_token = body["refresh_token"]
        self.headers = {"Authorization": f"Bearer {self.token}"}
        self._save_store()

    def _exchange_code(self) -> None:
        params = {"grant_type": "authorization_code", "code": self.code}
        if self.redirect_uri:
            params["redirect_uri"] = self.redirect_uri
        self._token_request(params)

    def _refresh(self) -> None:
        self._token_request({"grant_type": "refresh_token",
                             "refresh_token": self.refresh_token})

    def authenticate(self) -> None:
        stored = self._load_store()
        if stored and stored.get("refresh_token"):
            self.refresh_token = stored["refresh_token"]
            try:
                self._refresh()
                return
            except RuntimeError:
                if not self.code:
                    raise RuntimeError(
                        "stored refresh token is invalid and no "
                        "authorization code supplied — re-run the "
                        "interactive authorization (auth.go:469)")
        if not self.code:
            raise RuntimeError(
                "authorization_code flow needs `code` (from the one-time "
                "browser authorization) or a token_store holding a "
                "refresh token")
        self._exchange_code()

    def handle_unauthorized(self) -> bool:
        if self.refresh_token:
            self._refresh()
        else:
            self.authenticate()
        return True


class HMACAuth(Authenticator):
    """Per-request HMAC signing (reference: auth.go AuthenticatorHMAC
    :817-1000, vectors api_test.go:1820+): a ``signing_string`` template
    over request facts (method, path, body hashes, canonical query,
    timestamps, optional nonce) signs with HMAC-SHA256/512; rendered
    ``request_headers`` carry ``{signature}`` and friends."""

    def __init__(
        self,
        secret: str,
        algorithm: str = "sha256",
        secret_encoding: str = "",
        signing_string: str = "",
        request_headers: dict[str, str] | None = None,
        nonce_length: int = 0,
    ):
        super().__init__()
        import binascii

        enc = (secret_encoding or "").lower()
        if enc == "hex":
            try:
                self._secret = bytes.fromhex(secret)
            except ValueError as e:
                raise ValueError(
                    "could not decode hex-encoded secret for HMAC "
                    "authentication") from e
        elif enc == "base64":
            try:
                self._secret = base64.b64decode(secret, validate=True)
            except (binascii.Error, ValueError) as e:
                raise ValueError(
                    "could not decode base64-encoded secret for HMAC "
                    "authentication") from e
        elif enc in ("", "raw"):
            self._secret = secret.encode()
        else:
            raise ValueError(
                f"invalid secret_encoding {secret_encoding!r}, only "
                "'hex', 'base64', or 'raw' are supported")
        self.algorithm = (algorithm or "sha256").lower()
        if self.algorithm not in ("sha256", "sha512"):
            raise ValueError(
                f"invalid algorithm ({algorithm}), only 'sha256' and "
                "'sha512' are supported")
        self.signing_string = signing_string
        self.request_headers = dict(request_headers or {})
        self.nonce_length = int(nonce_length or 0)

    def sign(self, method: str, url: str,
             params: dict | None = None) -> dict[str, str]:
        """Headers to add to ONE request."""
        import datetime as _dt
        import hashlib
        import hmac as _hmac
        import os as _os
        import time as _time
        from email.utils import format_datetime
        from urllib.parse import quote, urlsplit

        body = b""  # GET-style requests carry no body
        parts = urlsplit(url)
        pairs = [(k, str(v)) for k, v in (params or {}).items()]
        if parts.query:
            pairs = [tuple(kv.split("=", 1)) if "=" in kv else (kv, "")
                     for kv in parts.query.split("&")] + pairs
        query = "&".join(f"{k}={v}" for k, v in pairs)
        path = parts.path + (f"?{query}" if query else "")
        canonical = "&".join(
            f"{quote(k, safe='')}={quote(v, safe='')}"
            for k, v in sorted(pairs))
        now = _dt.datetime.now(_dt.timezone.utc)
        nonce = (_os.urandom(self.nonce_length).hex()
                 if self.nonce_length > 0 else "")
        tmpl = {
            "http_method": method.upper(),
            "http_path": path,
            "http_body_md5": hashlib.md5(body).hexdigest(),
            "http_body_sha1": hashlib.sha1(body).hexdigest(),
            "http_body_sha256": hashlib.sha256(body).hexdigest(),
            "http_body_sha512": hashlib.sha512(body).hexdigest(),
            "http_body_raw": body.decode("utf-8", "replace"),
            "http_query": canonical,
            "http_headers": "",
            "unix_time": str(int(_time.time())),
            "unix_time_ms": str(int(_time.time() * 1000)),
            "date_iso": now.isoformat(timespec="seconds"),
            "date_rfc1123": format_datetime(now, usegmt=True),
            "nonce": nonce,
        }

        def render(s: str) -> str:
            for k, v in tmpl.items():
                s = s.replace("{%s}" % k, v)
            return s

        digest = (hashlib.sha256 if self.algorithm == "sha256"
                  else hashlib.sha512)
        mac = _hmac.new(self._secret, render(self.signing_string).encode(),
                        digest)
        tmpl["signature"] = mac.hexdigest()
        return {k: render(v) for k, v in self.request_headers.items()}


def make_authenticator(
    auth: dict[str, Any] | None,
    evaluator: Evaluator | None = None,
    transport: Transport | None = None,
) -> Authenticator:
    """Spec ``authentication:`` block -> Authenticator. Values render
    through the evaluator first (``{secrets.API_KEY}`` etc.,
    auth.go renderString)."""
    if not auth:
        return _NoAuth()
    ev = evaluator or Evaluator()
    r = ev.render_string
    kind = (auth.get("type") or "").lower()
    if not kind and auth.get("headers"):
        # type-less `authentication: {headers: ...}` is static-header
        # auth (github.yaml:15 — the production specs' common shape)
        kind = "static"
    if kind == "bearer":
        a: Authenticator = BearerAuth(r(auth.get("token", "")))
    elif kind == "basic":
        a = BasicAuth(r(auth.get("username", "")), r(auth.get("password", "")))
    elif kind == "static":
        a = StaticAuth({k: r(v) for k, v in (auth.get("headers") or {}).items()})
    elif kind == "hmac":
        a = HMACAuth(
            r(auth.get("secret", "")),
            algorithm=auth.get("algorithm", "sha256"),
            secret_encoding=auth.get("secret_encoding", ""),
            signing_string=auth.get("signing_string", ""),
            request_headers=auth.get("request_headers") or {},
            nonce_length=auth.get("nonce_length", 0),
        )
    elif kind in ("oauth2", "oauth2_client_credentials"):
        flow = (auth.get("flow") or "client_credentials").lower()
        if flow == "client_credentials":
            a = OAuth2ClientCredentials(
                r(auth.get("authentication_url", "")),
                r(auth.get("client_id", "")),
                r(auth.get("client_secret", "")),
                [r(s) for s in (auth.get("scopes") or [])],
                transport=transport,
            )
        elif flow in ("authorization_code", "refresh_token"):
            a = OAuth2AuthorizationCode(
                r(auth.get("authentication_url", "")),
                r(auth.get("client_id", "")),
                r(auth.get("client_secret", "") or ""),
                code=r(auth["code"]) if auth.get("code") else None,
                redirect_uri=r(auth.get("redirect_uri", "") or "") or None,
                scopes=[r(s) for s in (auth.get("scopes") or [])],
                token_store=r(auth.get("token_store", "") or "") or None,
                transport=transport,
            )
        else:
            raise NotImplementedError(
                f"oauth2 flow {flow!r} needs a browser/device; supported: "
                "client_credentials, authorization_code, refresh_token "
                "(reference auth.go:516-669)")
    else:
        raise ValueError(f"unsupported authentication type: {kind!r}")
    a.authenticate()
    return a


# --------------------------------------------------------------- endpoint

class APIConnection:
    """Spec-driven multi-endpoint API source with dependency ordering.

    Spec shape (the reference's ``api/spec.go`` YAML surface, subset)::

        name: my_api
        authentication: {type: oauth2, authentication_url: ..., ...}
        defaults:                      # merged under every endpoint
          request: {headers: {...}}
        endpoints:
          customers:
            request: {url: "https://api/x/customers", method: GET}
            response: {records: {jmespath: "data"}}
            pagination: {type: cursor, cursor_path: next}
          orders:
            iterate:                  # one request sequence per parent id
              over: "queue.customers"
              into: customer
              concurrency: 4
            request:
              url: "https://api/x/customers/{state.customer.id}/orders"
            response: {records: {jmespath: "data"}}

    ``iterate.over`` accepts ``queue.<endpoint>`` (consume that
    endpoint's record queue — also an implicit dependency) or any
    expression returning a list (``{int_range(1, 10)}``). Endpoint order
    is topological over queue references + explicit ``depends_on``.
    """

    def __init__(
        self,
        spec: dict[str, Any],
        env: dict[str, str] | None = None,
        secrets: dict[str, Any] | None = None,
        transport: Transport | None = None,
        inputs: dict[str, Any] | None = None,
        sync: dict[str, Any] | None = None,
    ):
        self.spec = spec
        self.transport = transport or _default_transport
        # defaults.state seeds the run state (reference spec YAMLs:
        # `defaults: {state: {base_url: ...}}`); a top-level state
        # block overrides
        self.state: dict[str, Any] = {
            **(((spec.get("defaults") or {}).get("state")) or {}),
            **(spec.get("state") or {}),
        }
        # `sync` = incremental keys persisted from the PREVIOUS run
        # (api.go: endpoint `sync: [last_updated]` lists state keys to
        # save; `{sync.x}` reads last run's value). sync_out collects
        # this run's values for the caller to persist.
        self.sync_in: dict[str, Any] = dict(sync or {})
        self.sync_out: dict[str, Any] = {}
        self.evaluator = Evaluator(
            state={
                "env": dict(env or {}),
                "secrets": dict(secrets or {}),
                "inputs": dict(inputs or {}),
                "state": self.state,
                "sync": self.sync_in,
            },
            keep_missing=False,
        )
        self.auth = make_authenticator(
            spec.get("authentication"), self.evaluator, self.transport)
        self.queues: dict[str, Queue] = {}
        self._last_response: dict[str, Any] = {
            "json": None, "status": 0, "headers": {}, "text": ""}
        self._proc_lock = threading.Lock()
        self._proc_first_seen: set = set()
        self._proc_agg_seen: set = set()
        self._fetched: dict[str, list] = {}
        # top-level `queues:` pre-declares named queues (github.yaml:5)
        for qname in spec.get("queues") or []:
            self.queues.setdefault(str(qname), Queue(str(qname)))
        # defaults.state expressions may reference inputs/sync — render
        # them now (api.go renders connection state at load; values
        # with runtime-only spans like {response.*} stay literal)
        for k, v in list(self.state.items()):
            if isinstance(v, str) and "{" in v and "response" not in v:
                try:
                    self.state[k] = self.evaluator.render(v)
                except Exception:
                    pass  # runtime-rendered later per request

    # -- defaults merging --------------------------------------------------

    @staticmethod
    def _deep_merge(base: dict, over: dict) -> dict:
        out = dict(base or {})
        for k, v in (over or {}).items():
            if isinstance(v, dict) and isinstance(out.get(k), dict):
                out[k] = APIConnection._deep_merge(out[k], v)
            else:
                out[k] = v
        return out

    def _merged(self, ep: dict[str, Any]) -> dict[str, Any]:
        """Endpoint with connection ``defaults`` folded in (api.go
        applies defaults.request/response/pagination/state under every
        endpoint; an endpoint-level ``pagination:`` key — even ``{}`` —
        REPLACES the default pagination, which is how github.yaml's
        single-page endpoints opt out of the next_state default)."""
        d = self.spec.get("defaults") or {}
        out = dict(ep or {})
        out["request"] = self._deep_merge(
            d.get("request") or {}, ep.get("request") or {})
        out["response"] = self._deep_merge(
            d.get("response") or {}, ep.get("response") or {})
        if "pagination" in ep:
            out["pagination"] = ep.get("pagination") or {}
        elif d.get("pagination"):
            out["pagination"] = d["pagination"]
        # endpoint state overlays defaults.state (already in self.state);
        # keep the endpoint's own block as-is
        return out

    # -- dependency ordering ----------------------------------------------

    def _queue_producers(self) -> dict[str, list[str]]:
        """queue name -> sorted producer endpoint names (endpoints whose
        ``response.processors[].output`` writes ``queue.X`` — spec.go
        ProducerQueueNames/HasUpstreams)."""
        eps = self.spec.get("endpoints") or {}
        out: dict[str, set[str]] = {}
        for name, ep in eps.items():
            procs = (((ep or {}).get("response") or {})
                     .get("processors")) or []
            for proc in procs:
                target = str(proc.get("output") or "").strip()
                if target.startswith("queue."):
                    out.setdefault(target[len("queue."):], set()).add(name)
        return {q: sorted(v) for q, v in out.items()}

    def _deps(self, name: str, ep: dict[str, Any]) -> set[str]:
        """Upstreams = explicit depends_on + the PRODUCERS of any queue
        this endpoint iterates over (spec.go HasUpstreams; a queue named
        after an endpoint keeps the legacy implicit-queue reading)."""
        deps = set(ep.get("depends_on") or [])
        over = ((ep.get("iterate") or {}).get("over")) or ""
        if isinstance(over, str) and over.strip().startswith("queue."):
            qname = over.strip()[len("queue."):].split(".", 1)[0]
            producers = self._queue_producers().get(qname)
            if producers:
                deps.update(p for p in producers if p != name)
            else:
                deps.add(qname)  # legacy: queue.<endpoint>
        return deps

    def _topo_order(self, names: list[str]) -> list[str]:
        """Kahn's sort with ALPHABETICAL tie-break among ready nodes
        (spec.go topologicalSort — stable ordering the reference tests
        pin); nodes stuck in a cycle append alphabetically at the end
        instead of erroring (the reference's lenient stance)."""
        eps = self.spec.get("endpoints") or {}
        # pull dependencies in transitively: running just the consumer
        # must run its producers first (the legacy DFS did this)
        pulled = set(names)
        frontier = list(pulled)
        while frontier:
            n = frontier.pop()
            for d in self._deps(n, eps.get(n) or {}):
                if d in eps and d not in pulled:
                    pulled.add(d)
                    frontier.append(d)
        names = sorted(pulled)
        deps = {n: {d for d in self._deps(n, eps.get(n) or {})
                    if d in names and d != n} for n in names}
        indeg = {n: len(deps[n]) for n in names}
        rev: dict[str, list[str]] = {n: [] for n in names}
        for n, ds in deps.items():
            for d in ds:
                rev[d].append(n)
        ready = sorted(n for n in names if indeg[n] == 0)
        order: list[str] = []
        while ready:
            cur = ready.pop(0)
            order.append(cur)
            newly = []
            for dep in rev[cur]:
                indeg[dep] -= 1
                if indeg[dep] == 0:
                    newly.append(dep)
            ready.extend(sorted(newly))
        if len(order) != len(names):  # cycle: append leftovers, warn
            leftover = sorted(n for n in names if n not in set(order))
            logging.getLogger(__name__).warning(
                "endpoint dependency cycle among %s; appending as-is",
                leftover)
            order.extend(leftover)
        return order

    def _run_processors(self, ep: dict[str, Any],
                        records: list[dict],
                        iter_state: dict[str, Any] | None = None,
                        ) -> list[dict]:
        """response.processors: evaluate ``expression`` per record and
        route to ``queue.X`` (append), ``state.X`` (with ``aggregation``
        last/first/flatten/maximum/minimum — api.go processor
        aggregations), ``record.X`` (set a field on every record), or
        bare ``record`` (replace the record — the object_rename shape in
        tests/specs/api_select_columns). Runs BEFORE select/order
        (spec.go's fixed ordering: processors → select), so a
        processor-produced key is selectable. Returns the (possibly
        rewritten) records. ``iter_state`` overlays the run state so an
        iteration-scoped value (``state.repo``) is visible — processors
        run per iteration in the reference's streaming order."""
        procs = ((ep.get("response") or {}).get("processors")) or []
        proc_state = {**self.state, **(iter_state or {})}
        lock = self._proc_lock
        for proc in procs:
            expr = proc.get("expression")
            target = str(proc.get("output") or "").strip()
            if not expr:
                continue
            if target in ("record",):
                out_recs = []
                for rec in records:
                    try:
                        v = self.evaluator.evaluate(
                            expr, extras={"record": rec,
                                          "state": dict(proc_state)})
                    except Exception:
                        v = rec
                    out_recs.append(v if isinstance(v, dict) else rec)
                records = out_recs
                continue
            if target.startswith("record."):
                field = target[len("record."):]
                for rec in records:
                    try:
                        rec[field] = self.evaluator.evaluate(
                            expr, extras={"record": rec,
                                          "state": dict(proc_state)})
                    except Exception:
                        rec[field] = None
                continue
            vals = []
            for rec in records:
                try:
                    v = self.evaluator.evaluate(
                        expr, extras={"record": rec,
                                      "state": dict(proc_state)})
                except Exception:
                    v = None
                if v is not None:
                    vals.append(v)
            if not target:
                continue  # log-only processor: evaluated for effect
            if target.startswith("queue."):
                qname = target[len("queue."):]
                with lock:
                    q = self.queues.setdefault(qname, Queue(qname))
                q.extend(vals)
            elif target.startswith("state.") and vals:
                agg = str(proc.get("aggregation") or "last").lower()
                key = target[len("state."):]
                with lock:
                    # fold into state ACROSS iteration batches (the
                    # reference aggregates over the whole endpoint run)
                    if agg == "first":
                        if key not in self._proc_first_seen:
                            self.state[key] = vals[0]
                            self._proc_first_seen.add(key)
                    elif agg in ("maximum", "max"):
                        prev = [self.state[key]] \
                            if key in self._proc_agg_seen else []
                        self.state[key] = max(prev + vals)
                        self._proc_agg_seen.add(key)
                    elif agg in ("minimum", "min"):
                        prev = [self.state[key]] \
                            if key in self._proc_agg_seen else []
                        self.state[key] = min(prev + vals)
                        self._proc_agg_seen.add(key)
                    elif agg == "flatten":
                        flat: list = []
                        for v in vals:
                            flat.extend(v) if isinstance(v, list) \
                                else flat.append(v)
                        if key in self._proc_agg_seen and \
                                isinstance(self.state.get(key), list):
                            self.state[key] = self.state[key] + flat
                        else:
                            self.state[key] = flat
                        self._proc_agg_seen.add(key)
                    else:  # last
                        self.state[key] = vals[-1]
        return records

    # -- request execution ------------------------------------------------

    def _render(self, val: Any, extra_state: dict[str, Any]) -> Any:
        extras = {
            "state": {**self.state, **extra_state},
            "auth": self.auth.state(),
        }
        return self.evaluator.render(val, extras)

    def _request(self, url: str, params: dict, headers: dict,
                 method: str = "GET", payload=None) -> tuple[int, Any]:
        s, b, _, _ = self._request_full(url, params, headers,
                                        method=method, payload=payload)
        return s, b

    def _request_full(
        self, url: str, params: dict, headers: dict,
        method: str = "GET", payload=None,
    ) -> tuple[int, Any, dict, str]:
        """(status, body, resp_headers, text) — resp_headers keys are
        folded to lower_snake so rule conditions can say
        ``response.headers.content_type`` (api.go's header namespace)."""
        from sling_cli_spark.sources.api import call_transport

        params = {k: v for k, v in (params or {}).items() if v is not None}
        hdrs = {**self.auth.headers, **(headers or {})}
        if isinstance(self.auth, HMACAuth):
            # per-request signing (auth.go state.Sign closure)
            hdrs.update(self.auth.sign(method or "GET", url, params))
        status, body, rh, text = call_transport(
            self.transport, url, params, hdrs, method=method or "GET",
            payload=payload)
        if status == 401 and self.auth.handle_unauthorized():
            hdrs = {**self.auth.headers, **(headers or {})}
            status, body, rh, text = call_transport(
                self.transport, url, params, hdrs, method=method or "GET",
                payload=payload)
        rh = {str(k).lower().replace("-", "_"): v
              for k, v in (rh or {}).items()}
        return status, body, rh, text

    _BACKOFFS = {
        "": lambda base, n: 0.0,
        "none": lambda base, n: 0.0,
        "constant": lambda base, n: float(base),
        "linear": lambda base, n: float(base) * n,
        "exponential": lambda base, n: float(base) * (2 ** (n - 1)),
        "jitter": lambda base, n: float(base) * (2 ** (n - 1)) * 0.5,
    }

    def _request_with_rules(
        self, url: str, params: dict, headers: dict,
        rules: list[dict], retries: int, iter_state: dict,
        method: str = "GET", payload=None,
    ) -> tuple[int, Any, str]:
        """One request under the response-rule machinery (reference
        spec.go Rule: actions retry / continue / stop / break / fail /
        skip, condition expressions over the response namespace —
        ``response.{json,status,headers,text}`` + ``request.attempts``,
        backoff constant / linear / exponential / jitter). Default
        rules — retry on 5xx, fail on 4xx — run after the custom list,
        matching the reference's hardcoded tail rules."""
        attempt = 0
        while True:
            attempt += 1
            status, body, rh, text = self._request_full(
                url, params, headers, method=method, payload=payload)
            self._last_response = {"json": body, "status": status,
                                   "headers": rh, "text": text}
            extras = {"response": dict(self._last_response),
                      "request": {"attempts": attempt},
                      "state": {**self.state, **iter_state},
                      "auth": self.auth.state()}
            action = "continue"
            matched_rule: dict = {}
            for rule in rules:
                cond = rule.get("condition") or "true"
                val = (self.evaluator.render(cond, extras) if "{" in cond
                       else self.evaluator.evaluate(cond, extras))
                if val is True or val == "true":
                    action = (rule.get("action") or "continue").lower()
                    matched_rule = rule
                    break
            else:  # hardcoded tail: 5xx retry, 4xx fail
                if status >= 500:
                    action, matched_rule = "retry", {"max_attempts": retries + 1}
                elif status >= 400:
                    action = "fail"
            if action == "retry":
                max_attempts = int(matched_rule.get("max_attempts", 3))
                if attempt < max_attempts:
                    delay = self._BACKOFFS.get(
                        (matched_rule.get("backoff") or "").lower(),
                        self._BACKOFFS["none"],
                    )(matched_rule.get("backoff_base", 1), attempt)
                    if delay:
                        time.sleep(min(delay, 60.0))
                    continue
                action = "fail"  # retries exhausted
            return status, body, action

    def _fetch_iteration(
        self, ep: dict[str, Any], iter_state: dict[str, Any],
    ) -> list[dict]:
        """One request sequence (all pages) for one iteration state.

        ``ep`` arrives defaults-merged (:meth:`_merged`). Pagination
        types: none / offset / cursor / **next_state** (the production
        specs' style — github.yaml:71, stripe.yaml:56: each page renders
        the ``next_state`` expressions over the response and folds them
        into the page state, with ``stop_condition`` gating; the
        ``response.records`` namespace exposes the page's extracted
        records to the stop expression)."""
        req = ep.get("request") or {}
        resp_cfg = ep.get("response") or {}
        rec_cfg = resp_cfg.get("records") or {}
        records_path = rec_cfg.get("jmespath") or ep.get("records_path")
        records_jq = rec_cfg.get("jq")
        pag = ep.get("pagination") or {}
        ptype = pag.get("type")
        if ptype is None:
            ptype = "next_state" if pag.get("next_state") else (
                "cursor" if pag.get("cursor_path") else (
                    "offset" if pag.get("offset_param") else (
                        "none" if not pag.get("stop_condition")
                        else "next_state")))
        page_size = int(pag.get("page_size", 100))
        max_pages = int(pag.get("max_pages", 10_000))
        retries = int(ep.get("retries", 2))
        method = str(req.get("method") or "GET").upper()

        out: list[dict] = []
        offset, cursor = 0, None
        # page_state persists across pages of THIS iteration: endpoint
        # state underlays, next_state writes overlay
        page_state: dict[str, Any] = {}
        for k, v in (ep.get("state") or {}).items():
            if isinstance(v, str) and "{" in v:
                try:
                    v = self.evaluator.render(
                        v, {"state": dict(self.state)})
                except Exception:
                    pass
            page_state[k] = v
        for _page in range(max_pages):
            st = {**page_state, **iter_state}
            st.setdefault("offset", offset)
            st.setdefault("cursor", cursor)
            url = self._render(req.get("url", ""), st)
            params = self._render(dict(req.get("parameters") or {}), st)
            headers = self._render(dict(req.get("headers") or {}), st)
            payload = None
            if req.get("payload") is not None:
                payload = self._render_payload(req["payload"], st)
            if ptype == "offset":
                params[pag.get("limit_param", "limit")] = page_size
                params[pag.get("offset_param", "offset")] = offset
            elif ptype == "cursor" and cursor is not None:
                params[pag.get("cursor_param", "cursor")] = cursor
            status, body, action = self._request_with_rules(
                url, params, headers,
                rules=(resp_cfg.get("rules") or []), retries=retries,
                iter_state=st, method=method, payload=payload)
            if action == "fail":
                raise RuntimeError(f"API error {status} from {url}")
            if action in ("stop", "break"):
                break
            if records_jq:
                records = _apply_jq(body, records_jq)
            else:
                records = _extract_path(body, records_path)
            records = [] if records is None else (
                [records] if isinstance(records, dict) else list(records))
            if action != "skip":  # skip: drop records, keep paginating
                out.extend(records)
            # stop_condition renders with the response namespace
            stop = pag.get("stop_condition")
            if stop:
                extras = {"response": {**self._last_response,
                                       "records": records},
                          "state": {**self.state, **st},
                          "auth": self.auth.state()}
                # reference stop_condition is a bare expression; braces
                # also accepted ({response.json.done})
                val = (self.evaluator.render(stop, extras) if "{" in stop
                       else self.evaluator.evaluate(stop, extras))
                if val is True or val == "true":
                    break
            if ptype == "none":
                break
            if ptype == "next_state":
                nxt = pag.get("next_state") or {}
                if not nxt or (not records and not stop):
                    break
                extras = {"response": {**self._last_response,
                                       "records": records},
                          "state": {**self.state, **st},
                          "auth": self.auth.state()}
                for k, expr in nxt.items():
                    page_state[k] = (
                        self.evaluator.render(expr, extras)
                        if isinstance(expr, str) and "{" in expr
                        else (self.evaluator.evaluate(expr, extras)
                              if isinstance(expr, str) else expr))
                continue
            if not records:
                break
            if ptype == "offset":
                if len(records) < page_size:
                    break
                offset += len(records)
            elif ptype == "cursor":
                cursor = _extract_path(body, pag.get("cursor_path", "next_cursor"))
                if not cursor:
                    break
        # processors run with THIS iteration's state in scope (the
        # reference streams them per batch; record.repository-style
        # outputs need state.repo from the iteration)
        return self._run_processors(
            ep, out, iter_state={**page_state, **iter_state})

    def _render_payload(self, payload: Any, st: dict[str, Any]) -> Any:
        """Render a request payload (GraphQL ``{query, variables}``):
        strings render; ``variables`` values keep their native types
        (ints stay ints, a null cursor stays null)."""
        if isinstance(payload, dict):
            return {k: self._render_payload(v, st)
                    for k, v in payload.items()}
        if isinstance(payload, list):
            return [self._render_payload(v, st) for v in payload]
        if isinstance(payload, str) and "{" in payload \
                and "\n" not in payload:
            # single-line strings render ({state.limit} → 250, typed);
            # multi-line strings are GraphQL query bodies whose braces
            # are literal — they pass through untouched (the specs never
            # interpolate state into the query text, only `variables`)
            return self._render(payload, st)
        return payload

    def _postprocess_records(
        self, ep: dict[str, Any], records: list[dict],
    ) -> list[dict]:
        """Records-block semantics (reference spec.go Records struct:
        primary_key dedup via seen-set, limit, select include/exclude,
        snake/camel casing — spec.go:344-345, 1331-1344)."""
        rec_cfg = (ep.get("response") or {}).get("records") or {}
        pk = rec_cfg.get("primary_key")
        if pk:
            pk = [pk] if isinstance(pk, str) else list(pk)
            seen: set = set()
            deduped = []
            for r in records:
                key = tuple(r.get(k) for k in pk)
                if key in seen:
                    continue
                seen.add(key)
                deduped.append(r)
            records = deduped
        sel = rec_cfg.get("select")
        if sel:
            include = [c for c in sel if not c.startswith("-")]
            exclude = {c[1:] for c in sel if c.startswith("-")}
            if include:
                records = [{k: r.get(k) for k in include} for r in records]
            elif exclude:
                records = [{k: v for k, v in r.items() if k not in exclude}
                           for r in records]
        casing = (rec_cfg.get("casing") or "").lower()
        if casing in ("snake", "lower", "upper"):
            def recase(k: str) -> str:
                if casing == "snake":
                    return re.sub(r"(?<=[a-z0-9])([A-Z])", r"_\1", k).lower()
                return k.lower() if casing == "lower" else k.upper()
            records = [{recase(k): v for k, v in r.items()} for r in records]
        limit = rec_cfg.get("limit")
        if limit:
            records = records[: int(limit)]
        return records

    def run_setup(self) -> None:
        """Connection-level ``defaults.setup`` sequence (github.yaml:84:
        a rate-limit probe whose processors seed state and whose rules
        can abort the whole run). Each step: one request, jmespath
        record extraction, processors (state outputs honor
        ``aggregation``), then rules — a matched ``stop``/``fail``
        raises with the rule's message. Runs once per connection."""
        steps = ((self.spec.get("defaults") or {}).get("setup")) or []
        if not steps or self.spec.get("__setup_ran__"):
            return
        for step in steps:
            req = step.get("request") or {}
            st = dict(self.state)
            url = self._render(req.get("url", ""), st)
            params = self._render(dict(req.get("parameters") or {}), st)
            headers = self._render(dict(req.get("headers") or {}), st)
            status, body, rh, text = self._request_full(
                url, params, headers,
                method=str(req.get("method") or "GET").upper())
            if status >= 400:
                raise RuntimeError(
                    f"setup request failed ({status}): {url}")
            resp_cfg = step.get("response") or {}
            path = (resp_cfg.get("records") or {}).get("jmespath")
            records = _extract_path(body, path)
            records = [] if records is None else (
                [records] if isinstance(records, dict)
                else list(records))
            self._run_processors(step, records)
            extras = {"response": {"json": body, "status": status,
                                   "headers": rh, "text": text,
                                   "records": records},
                      "state": dict(self.state),
                      "auth": self.auth.state()}
            for rule in resp_cfg.get("rules") or []:
                cond = rule.get("condition") or "true"
                val = (self.evaluator.render(cond, extras)
                       if "{" in cond
                       else self.evaluator.evaluate(cond, extras))
                if val is True or val == "true":
                    action = (rule.get("action") or "continue").lower()
                    if action in ("stop", "fail", "break"):
                        raise RuntimeError(
                            rule.get("message")
                            or f"setup rule matched: {action}")
                    break
        self.spec["__setup_ran__"] = True

    def render_dynamic_endpoints(self) -> list[str]:
        """Materialize ``dynamic_endpoints`` into concrete endpoints
        (reference: api.go RenderDynamicEndpoints:860-1023 +
        renderEndpointTemplate:768). Each definition optionally runs a
        SETUP sequence (requests whose processors write state, with
        ``aggregation: flatten``), resolves ``iterate`` (inline list,
        JSON literal string, or a state path), then stamps one endpoint
        per item: only name/description/docs render NOW (keep-missing
        evaluator — runtime spans stay intact); the iteration value
        lands in the endpoint's own ``state`` for request-time
        rendering. Duplicate generated names error."""
        import copy
        import json as _json

        from sling_cli_spark.expressions import search_path

        dyns = self.spec.get("dynamic_endpoints") or []
        if not dyns or self.spec.get("__dynamic_rendered__"):
            return []
        eps = self.spec.setdefault("endpoints", {})
        generated: list[str] = []
        for idx, dyn in enumerate(dyns):
            setup_state = dict(self.state)
            for step in dyn.get("setup") or []:
                req = step.get("request") or {}
                extras = {"state": setup_state}
                url = self.evaluator.render_string(
                    req.get("url", ""), extras)
                params = self.evaluator.render(
                    dict(req.get("parameters") or {}), extras)
                headers = self.evaluator.render(
                    dict(req.get("headers") or {}), extras)
                status, body = self._request(url, params, headers)
                if status >= 400:
                    raise RuntimeError(
                        f"dynamic endpoint setup failed ({status}): {url}")
                procs = ((step.get("response") or {})
                         .get("processors")) or []
                for proc in procs:
                    expr = proc.get("expression")
                    target = str(proc.get("output") or "").strip()
                    if not expr or not target.startswith("state."):
                        continue
                    val = self.evaluator.evaluate(expr, extras={
                        "response": {"json": body, "status": status},
                        "state": dict(setup_state)})
                    if proc.get("aggregation") == "flatten" and \
                            isinstance(val, list):
                        flat: list = []
                        for x in val:
                            flat.extend(x) if isinstance(x, list) \
                                else flat.append(x)
                        val = flat
                    setup_state[target[len("state."):]] = val
            it = dyn.get("iterate")
            if it is None:
                raise ValueError(
                    f"dynamic endpoint definition {idx + 1}: "
                    "'iterate' is required")
            if isinstance(it, list):
                items = list(it)
            elif isinstance(it, dict):
                items = [it]
            else:
                t = str(it).strip()
                if not t.startswith(("[", "{")) and "{" in t:
                    t = str(self.evaluator.render_string(
                        t, {"state": setup_state})).strip()
                if t.startswith(("[", "{")):
                    parsed = _json.loads(t)
                    items = parsed if isinstance(parsed, list) else [parsed]
                else:
                    got = search_path(t, {"state": setup_state})
                    if got is None:
                        got = []
                    items = got if isinstance(got, list) else [got]
            if not items:
                logging.getLogger(__name__).warning(
                    "dynamic endpoint definition %d: iterate returned "
                    "an empty list", idx + 1)
                continue
            into = str(dyn.get("into") or "")
            bits = into.split(".")
            if len(bits) != 2 or bits[0] != "state":
                raise ValueError(
                    f"invalid 'into' variable: {into!r} (must be "
                    "'state.variable_name')")
            key = bits[1]
            tmpl = dyn.get("endpoint") or {}
            keep_ev = Evaluator(keep_missing=True)
            for val in items:
                st = {**setup_state, key: val}
                ep_new = copy.deepcopy(tmpl)
                extras = {"state": st}
                name = str(keep_ev.render_string(
                    ep_new.get("name", ""), extras))
                if name in eps:
                    raise ValueError(
                        f"duplicate endpoint name generated: {name}")
                ep_new["name"] = name
                for fld in ("description", "docs"):
                    if ep_new.get(fld):
                        ep_new[fld] = keep_ev.render_string(
                            ep_new[fld], extras)
                ep_state = dict(ep_new.get("state") or {})
                for k, v in st.items():
                    ep_state.setdefault(k, v)
                ep_new["state"] = ep_state
                eps[name] = ep_new
                generated.append(name)
        self.spec["__dynamic_rendered__"] = True
        return generated

    def fetch_endpoint(self, name: str) -> list[dict]:
        """All records for one endpoint: resolve the iteration source,
        fan out sequences over a bounded pool, feed this endpoint's
        queue as records arrive."""
        if name in getattr(self, "_fetched", {}):
            # one fetch per endpoint per connection lifetime: two
            # consumer streams sharing a producer must not re-run it
            # (the producer's queue broadcasts to every consumer)
            return self._fetched[name]
        ep = self._merged((self.spec.get("endpoints") or {})[name])
        q = self.queues.setdefault(name, Queue(name))
        self._proc_first_seen.clear()
        self._proc_agg_seen.clear()
        it = ep.get("iterate") or {}
        into = it.get("into", "value")
        if into.startswith("state."):  # reference: into: "state.cid"
            into = into[len("state."):]
        over = it.get("over")

        if over is None:
            iter_states: list[dict[str, Any]] = [{}]
        elif isinstance(over, str) and over.strip().startswith("queue."):
            parent = over.strip().split(".", 1)[1]
            deferred = (it.get("consume", "deferred") != "immediate")
            if parent not in self.queues:
                raise KeyError(
                    f"queue {parent!r} has no producer that ran; "
                    f"producers: {self._queue_producers().get(parent)}")
            src_q = self.queues[parent]
            if not src_q.done and parent not in (
                    self.spec.get("endpoints") or {}):
                # a NAMED queue consumed outside run(): the caller
                # sequenced the producers manually — don't deadlock
                src_q.mark_done()
            src = src_q.consume(deferred=deferred)
            iter_states = [{into: v} for v in src]
        else:
            # braces render; a bare string is an EXPRESSION
            # (github.yaml: over: 'require(inputs.repositories, "...")')
            if isinstance(over, str) and "{" not in over:
                vals = self.evaluator.evaluate(
                    over, extras={"state": dict(self.state)})
            else:
                vals = self.evaluator.render(
                    over, {"state": dict(self.state)})
            if isinstance(vals, str):
                # a comma-separated inputs value iterates per item
                # (api.go splits string repository lists)
                vals = [s for s in
                        (x.strip() for x in vals.split(",")) if s]
            if not isinstance(vals, (list, tuple)):
                raise ValueError(
                    f"iterate.over must yield a list, got {type(vals).__name__}")
            iter_states = [{into: v} for v in vals]

        conc = max(1, int(it.get("concurrency", 1)))
        if conc == 1 or len(iter_states) <= 1:
            batches = [self._fetch_iteration(ep, st) for st in iter_states]
        else:
            with ThreadPoolExecutor(max_workers=conc) as pool:
                batches = list(pool.map(
                    lambda st: self._fetch_iteration(ep, st), iter_states))
        # spec.go's fixed ordering: processors (already run per
        # iteration inside _fetch_iteration) FIRST, then select /
        # pk-dedup / casing / limit — so a processor-produced key is
        # selectable and a renamed key survives (api_select_columns
        # probes A/B)
        records = self._postprocess_records(
            ep, list(itertools.chain.from_iterable(batches)))
        # endpoint `sync:` keys — capture this run's values for the
        # caller to persist (api.go incremental sync state)
        for key in ep.get("sync") or []:
            if key in self.state:
                self.sync_out[key] = self.state[key]
        if ep.get("queue_only"):
            # queue_only producer (tests/specs/queue_only_omdb): runs
            # for its queue writes, emits NO records downstream
            records = []
        q.extend(records)
        q.mark_done()
        self._fetched[name] = records
        return records

    def run(
        self, spark=None, endpoints: list[str] | None = None,
        flatten_records: bool = True,
    ) -> dict[str, Any]:
        """Execute endpoints in dependency order. With ``spark``,
        each endpoint's records land as a DataFrame (flattened like the
        JSON file path); without, raw record lists are returned."""
        self.run_setup()
        self.render_dynamic_endpoints()
        eps = self.spec.get("endpoints") or {}
        names = endpoints or [
            n for n, ep in eps.items() if not (ep or {}).get("disabled")]
        # named-queue completion: a queue is done when ALL its producers
        # have fetched (consumers wait on done in deferred mode)
        pending = {q: set(p) for q, p in self._queue_producers().items()}
        out: dict[str, Any] = {}
        for name in self._topo_order(names):
            records = self.fetch_endpoint(name)
            for qname, ps in pending.items():
                ps.discard(name)
                if not ps and qname in self.queues:
                    self.queues[qname].mark_done()
            if spark is None:
                out[name] = records
                continue
            import json as _json
            if not records:
                out[name] = local_df(spark, [], "skipped string")
                continue
            df = spark.read.json(spark.sparkContext.parallelize(
                [_json.dumps(r) for r in records],
                max(1, min(len(records) // 2000 + 1,
                           spark.sparkContext.defaultParallelism))))
            if flatten_records:
                from sling_cli_spark.operators.flatten import flatten

                df = flatten(df)
            out[name] = df
        return out


# ---------------------------------------------------------------------------
# replication bridge: API connections as EL sources
#
# The reference registers API connections (type: api, spec: path.yaml,
# secrets/inputs) in env.yaml and uses them as replication sources whose
# streams are endpoint names (api.go + sling_run.go). This engine's twin:
# `register_api_conn` returns an `api://<name>` URL for the connection
# registry / replication `source:`; `sources.files.read_source` routes
# `api://` conns here. An unregistered `api://<path>.yaml` loads the spec
# file directly (no secrets/inputs).

_API_CONNS: dict[str, dict] = {}


def register_api_conn(
    name: str,
    spec=None,
    spec_path: str | None = None,
    env: dict | None = None,
    secrets: dict | None = None,
    inputs: dict | None = None,
    state: dict | None = None,
    sync: dict | None = None,
    transport=None,
) -> str:
    """Register an API connection under ``api://<name>``; returns the
    URL. ``state`` overlays the spec's top-level state (e.g. pointing
    ``base_url`` at a test server — the spec's own override channel)."""
    import yaml as _yaml

    if spec is None:
        if not spec_path:
            raise ValueError("register_api_conn: spec or spec_path required")
        with open(spec_path) as f:
            spec = _yaml.safe_load(f)
    _API_CONNS[name.lower()] = {
        "spec": spec, "env": env or {}, "secrets": secrets or {},
        "inputs": inputs or {}, "state": state or {}, "sync": sync or {},
        "transport": transport, "conn": None,
    }
    return f"api://{name}"


def clear_api_conns() -> None:
    _API_CONNS.clear()


def open_api_conn(conn_url: str) -> "APIConnection":
    """Resolve ``api://<name-or-spec-path>`` to a (cached, stateful)
    APIConnection. The cache keeps producer queues and fetched-endpoint
    results shared across the streams of one replication run."""
    import copy as _copy

    import yaml as _yaml

    key = conn_url.removeprefix("api://")
    reg = _API_CONNS.get(key.lower())
    if reg is None:
        if not (key.endswith((".yaml", ".yml")) and os.path.exists(key)):
            raise KeyError(
                f"unknown API connection {conn_url!r} (register_api_conn, "
                "or point api:// at a spec YAML path)")
        with open(key) as f:
            spec = _yaml.safe_load(f)
        reg = {"spec": spec, "env": {}, "secrets": {}, "inputs": {},
               "state": {}, "sync": {}, "transport": None, "conn": None}
        _API_CONNS[key.lower()] = reg
    if reg["conn"] is None:
        spec = _copy.deepcopy(reg["spec"])
        if reg["state"]:
            spec["state"] = {**(spec.get("state") or {}), **reg["state"]}
        reg["conn"] = APIConnection(
            spec, env=reg["env"], secrets=reg["secrets"],
            transport=reg["transport"], inputs=reg["inputs"],
            sync=reg["sync"])
    return reg["conn"]


def records_to_df(spark, records: list[dict], flatten_level=None):
    """Record dicts -> DataFrame with ALPHABETICAL column order (the
    reference's documented `*`/unselected ordering for API streams —
    tests/specs/api_select_columns pipeline.yaml case 4: pins go where
    listed, the remainder is alphabetized). Spark's JSON inference is
    already alphabetical; the explicit sort pins the contract."""
    import json as _json

    df = spark.read.json(
        spark.sparkContext.parallelize(
            [_json.dumps(r, default=str) for r in records], 1))
    if flatten_level:
        from sling_cli_spark.operators.flatten import flatten

        df = flatten(df, 0 if flatten_level is True else int(flatten_level))
    return df.select(*sorted(df.columns))


def read_api_source(spark, source):
    """EL read of one endpoint from an ``api://`` connection (the
    reference's API-source task path, task_run_read.go -> api.go
    ReadDataflow): run the endpoint (producers pulled transitively via
    the topo order), land records as a DataFrame. Endpoint-level
    ``overrides.select`` applies when the stream sets no select of its
    own (the api_select_columns case-3 contract)."""
    conn = open_api_conn(source.conn or "")
    stream = source.stream or ""
    eps = conn.spec.get("endpoints") or {}
    if stream not in eps:
        conn.render_dynamic_endpoints()
        eps = conn.spec.get("endpoints") or {}
    if stream not in eps:
        raise KeyError(f"API endpoint {stream!r} not in spec "
                       f"(has: {sorted(eps)})")
    conn.run(endpoints=[stream])
    records = conn._fetched.get(stream) or []
    opts = getattr(source, "options", None)
    flatten_level = getattr(opts, "flatten", None) if opts else None
    if not records:
        # zero-record endpoint (queue_only producers always land here):
        # keep ONE nullable column so file writers accept the schema —
        # zero rows write an empty document either way
        from pyspark.sql import types as T

        return local_df(spark, 
            [], T.StructType(
                [T.StructField("_sling_empty", T.StringType())]))
    df = records_to_df(spark, records, flatten_level=flatten_level)
    if not source.select:
        ov_sel = ((eps.get(stream) or {}).get("overrides") or {}) \
            .get("select")
        if ov_sel:
            from sling_cli_spark.operators.select import apply_select

            df = apply_select(df, list(ov_sel))
    return df
