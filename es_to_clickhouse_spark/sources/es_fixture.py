"""Loopback Elasticsearch fixture: a FUNCTIONAL sliced-scroll endpoint
(stdlib http.server) used to drive the jar-free wire paths end-to-end
with zero network — by tests/test_es_sliced.py and by the corpus's
``s22_sliced_scroll_scan`` (which seeds it from the events table and
proves the executor-parallel read reassembles the oracle's row set).

Implements just enough of the public ES HTTP API for the engine's own
request shapes (the ones :class:`sources.es.ScrollSession` emits):

- ``POST /{index}/_search?scroll=...`` — match_all / bool-filter-range /
  bool-should-ranges queries, optional ``slice: {id, max}`` partitioning
  (deterministic md5-of-_id routing; any consistent-and-complete
  partition satisfies the client contract), optional ascending sort,
  ``size``-bounded first page with a fresh ``_scroll_id``; without
  ``scroll`` (the size-1 probes) one page and no cursor;
- ``POST /_search/scroll`` — next page for a cursor;
- ``DELETE /_search/scroll`` — context cleanup.

NOT a reference-code port: the reference has no test server at all;
this exists so the protocol the reference drives against a real ES
(es/es_to_bytehouse.py:577-673) is exercised over an actual socket."""

from __future__ import annotations

import hashlib
import itertools
import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def slice_of(_id: str, smax: int) -> int:
    """Deterministic slice routing for a doc id."""
    return int(hashlib.md5(_id.encode()).hexdigest(), 16) % smax


def matches(query: dict, doc: dict) -> bool:
    """Evaluate the query-DSL subset the engine emits: match_all,
    exists (the 1-doc time-field re-probe), bool.filter [range],
    bool.should [ranges] + minimum_should_match. Unknown shapes raise —
    the fixture fails closed like the codecs."""
    if not query or "match_all" in query:
        return True
    if "exists" in query:
        # ES semantics: a missing OR null field has no indexed value
        cur: object = doc
        for part in query["exists"]["field"].split("."):
            if not isinstance(cur, dict):
                return False
            cur = cur.get(part)
        return cur is not None
    if "bool" in query:
        b = query["bool"]
        clauses = b.get("filter", []) or b.get("should", [])
        hits = [
            any(
                str(doc.get(f, "")) > cond["gt"]
                for f, cond in c["range"].items()
            )
            for c in clauses
            if "range" in c
        ]
        if b.get("should"):
            return sum(hits) >= b.get("minimum_should_match", 1)
        return all(hits)
    raise ValueError(f"es_fixture: unsupported query {query}")


def make_handler(docs, log=None, cleanups=None, index="events", mapping=None,
                 chaos=None):
    """Build the request handler class over an in-memory doc list.
    ``log``/``cleanups`` (optional lists) record the wire transcript for
    golden assertions. ``index``/``mapping`` back the catalog/mapping
    GETs (``/_cat/indices``, ``/{index}/_mapping``) the live sync mode
    issues; ``mapping`` is the ``properties`` dict (field → {type}).
    ``chaos`` (:class:`sources.chaos_fixture.Chaos`) injects mid-scan
    connection drops / slow replies on the POST data plane (search +
    scroll pages) — control GETs stay healthy so the chaos lands on the
    drain contracts, not the catalog."""
    cursors: dict[str, list[dict]] = {}
    page_size: dict[str, int] = {}
    pits: dict[str, str] = {}  # pit id -> index (PIT + search_after)
    counter = itertools.count()
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _reply(self, obj):
            data = json.dumps(obj).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _body(self):
            n = int(self.headers.get("Content-Length", 0))
            return json.loads(self.rfile.read(n)) if n else {}

        def _page(self, sid: str):
            with lock:
                pending = cursors.get(sid, [])
                size = page_size.get(sid, 10)
                page, cursors[sid] = pending[:size], pending[size:]
            return {"_scroll_id": sid, "hits": {"hits": page}}

        def do_GET(self):
            path = urllib.parse.urlsplit(self.path).path
            if log is not None:
                log.append({"path": path, "method": "GET"})
            if path.startswith("/_cat/indices"):
                # GET /_cat/indices?format=json (es_to_bytehouse.py:239-258)
                return self._reply([{"index": index}])
            if path == f"/{index}/_mapping":
                props = mapping or {}
                return self._reply(
                    {index: {"mappings": {"properties": props}}}
                )
            data = b'{"error": "not found"}'
            self.send_response(404)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self):
            path = urllib.parse.urlsplit(self.path).path
            body = self._body()
            if log is not None:
                log.append({"path": path, "body": body})
            if chaos is not None:
                act = chaos.decide()
                if act == "reset":
                    # drop mid-exchange: no status line, no body — the
                    # client sees a transport error on this page
                    self.connection.close()
                    return
                if act == "slow":
                    chaos.maybe_sleep()
            if path == "/_search/scroll":
                return self._reply(self._page(body["scroll_id"]))
            if path.endswith("/_pit"):
                # POST /{index}/_pit?keep_alive=... — open a point in time
                pid = f"pit-{next(counter)}"
                with lock:
                    pits[pid] = path.rsplit("/", 2)[-2].lstrip("/")
                return self._reply({"id": pid})
            if path == "/_search" and "pit" in body:
                # functional PIT search_after: query + slice filter, a
                # TOTAL sort (field values then the _shard_doc position),
                # cursor = strictly-after the search_after tuple
                with lock:
                    if body["pit"]["id"] not in pits:
                        data = b'{"error": "pit expired"}'
                        self.send_response(404)
                        self.send_header("Content-Length", str(len(data)))
                        self.end_headers()
                        self.wfile.write(data)
                        return
                rows = [
                    (pos, d)
                    for pos, d in enumerate(docs)
                    if matches(body.get("query", {}), d)
                ]
                sl = body.get("slice")
                if sl is not None:
                    rows = [
                        (p, d)
                        for p, d in rows
                        if slice_of(str(d["_id"]), sl["max"]) == sl["id"]
                    ]
                sort_fields = [list(s)[0] for s in body.get("sort", [])]

                def key(pd):
                    p, d = pd
                    return tuple(
                        p if f == "_shard_doc" else str(d.get(f, ""))
                        for f in sort_fields
                    )

                rows.sort(key=key)
                after = body.get("search_after")
                if after is not None:
                    rows = [pd for pd in rows if key(pd) > tuple(after)]
                page = rows[: body.get("size", 10)]
                return self._reply(
                    {
                        "hits": {
                            "hits": [
                                {
                                    "_id": d["_id"],
                                    "_source": {
                                        k: v
                                        for k, v in d.items()
                                        if k != "_id"
                                    },
                                    "sort": list(key((p, d))),
                                }
                                for p, d in page
                            ]
                        }
                    }
                )
            # initial search: /{index}/_search
            sl = body.get("slice")
            rows = [d for d in docs if matches(body.get("query", {}), d)]
            if sl is not None:
                rows = [
                    d
                    for d in rows
                    if slice_of(str(d["_id"]), sl["max"]) == sl["id"]
                ]
            key = list(body["sort"][0])[0] if body.get("sort") else "_id"
            rows = sorted(rows, key=lambda d: str(d.get(key, "")))
            hits = [
                {
                    "_id": d["_id"],
                    "_source": {k: v for k, v in d.items() if k != "_id"},
                }
                for d in rows
            ]
            params = urllib.parse.parse_qs(urllib.parse.urlsplit(self.path).query)
            if "scroll" not in params:
                # a plain search (the size-1 probes) opens no cursor
                return self._reply({"hits": {"hits": hits[: body.get("size", 10)]}})
            sid = f"ctx-{next(counter)}"
            with lock:
                cursors[sid] = hits
                page_size[sid] = body.get("size", 10)
            return self._reply(self._page(sid))

        def do_DELETE(self):
            path = urllib.parse.urlsplit(self.path).path
            body = self._body()
            if path == "/_pit":
                if cleanups is not None:
                    cleanups.append(body["id"])
                with lock:
                    pits.pop(body["id"], None)
                return self._reply({"succeeded": True})
            if cleanups is not None:
                cleanups.append(body["scroll_id"])
            with lock:
                cursors.pop(body["scroll_id"], None)
            return self._reply({"succeeded": True})

    return Handler


def serve_index(docs, log=None, cleanups=None, index="events", mapping=None,
                chaos=None):
    """Start a loopback fixture serving ``docs``. Returns
    ``(server, host_url)`` — caller shuts the server down."""
    srv = ThreadingHTTPServer(
        ("127.0.0.1", 0),
        make_handler(docs, log, cleanups, index, mapping, chaos=chaos),
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"
