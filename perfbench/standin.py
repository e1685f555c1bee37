"""API stand-in and capture endpoint, run as a process of its own.

Usage (the benchmark starts it; ``config`` is one JSON argument)::

    python3 perfbench/standin.py '{"kind": "bars", "seed": 1, ...}'

It builds its tape from the seed (``tapes.py``), prints
``READY <data_port> <control_port>`` and serves until its stdin
closes.  One asyncio loop, so one server thread.

Data port (what the engine talks to), HTTP/1.1 with keep-alive:

- ``GET  /v2/stocks/bars``   — 1Min bars, paged like the market-data API
- ``GET  /v2/stocks/trades`` — the trade tape, paged the same way
- ``POST /v1/ingest``        — a ``Rest_Batch_Sink`` record page
- ``POST /v1/commit``        — a ``Rest_Batch_Sink`` commit manifest

``start``/``end`` are inclusive; multi-symbol answers go symbol by
symbol, and the page token is ``<symbol index>:<offset>``.  Each
request costs two binary searches per symbol plus the page itself: the
records are pre-serialized JSON fragments that a page splices
together.

Control port (the benchmark's own; never counted):

- ``GET  /stats``     — cumulative counters; ``?epoch=1`` then
  forgets the requests seen so far (repeats are counted per epoch)
- ``GET  /connector`` — per-slice serve records and per-batch landing
  records, for the round-trip checks
"""

from __future__ import annotations

import asyncio
import json
import sys
import time
from pathlib import Path
from urllib.parse import parse_qs, urlsplit

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))

import tapes  # noqa: E402


class Stats:
    def __init__(self, n_check: int):
        self.connections = 0
        self.requests = 0
        self.repeats = 0
        self.pages = 0
        self.empty_pages = 0
        self.rows = 0
        self.serve_s = 0.0
        self.posts = 0
        self.posted_rows = 0
        self.manifests = 0
        self.check = np.zeros(n_check, dtype=np.int64)
        self.seen: set[str] = set()

    def as_dict(self) -> dict:
        d = {k: v for k, v in vars(self).items() if k not in ("check", "seen")}
        d["check"] = self.check.tolist()
        return d


def _us(value: str) -> int:
    return tapes.to_us(
        tapes.datetime.fromisoformat(value.replace("Z", "+00:00"))
    )


class StandIn:
    def __init__(self, cfg: dict):
        self.kind = cfg["kind"]
        if self.kind == "bars":
            tape = tapes.bar_tape(cfg["seed"], cfg["symbols"], cfg["weeks"])
            self.series = {
                s: (b.minute * tapes.MINUTE_US, b.frags(), b.check)
                for s, b in tape.bars.items()
            }
            self.data_key = b"bars"
            n_check = len(tapes.BAR_CHECK)
        else:
            tape = tapes.trade_tape(
                cfg["seed"],
                cfg["symbols"],
                cfg["slices"],
                cfg["poll_s"],
                cfg["trades_per_slice"],
                cfg["redelivery_share"],
            )
            self.series = {
                s: (t.us, t.frags(), t.check) for s, t in tape.trades.items()
            }
            self.ids = {s: t.ids for s, t in tape.trades.items()}
            self.data_key = b"trades"
            n_check = len(tapes.TRADE_CHECK)
        self.path = "/v2/stocks/" + self.data_key.decode()
        self.stats = Stats(n_check)
        # connector bookkeeping: slice start -> serve record; batches
        self.slices: dict[str, dict] = {}
        self.served_ids: set[int] = set()
        self.landed_ids: set[int] = set()
        self.batches: list[dict] = []
        self.open_batch = self._new_batch()

    # ------------------------------------------------------------ GETs
    def page(self, qs: dict[str, list[str]]) -> bytes:
        symbols = qs["symbols"][0].split(",")
        limit = min(int(qs.get("limit", ["1000"])[0]), 10_000)
        lo = _us(qs["start"][0])
        hi = _us(qs["end"][0])
        k0, off = 0, 0
        if "page_token" in qs:
            a, b = qs["page_token"][0].split(":")
            k0, off = int(a), int(b)
        parts: list[bytes] = []
        taken = 0
        token = b"null"
        check = self.stats.check
        new_check: list[np.ndarray] = []
        for k in range(k0, len(symbols)):
            series = self.series.get(symbols[k])
            if series is None:
                continue
            us, frags, terms = series
            i0 = int(np.searchsorted(us, lo, "left"))
            j = int(np.searchsorted(us, hi, "right"))
            i = i0 + (off if k == k0 else 0)
            if i >= j:
                continue
            if taken == limit:
                token = f'"{k}:{i - i0}"'.encode()
                break
            m = min(j, i + limit - taken)
            parts.append(b'"' + symbols[k].encode() + b'":[' + b",".join(frags[i:m]) + b"]")
            check += terms[i:m].sum(axis=0)
            if self.kind == "trades":
                fresh = np.zeros(m - i, dtype=bool)
                for n, x in enumerate(self.ids[symbols[k]][i:m].tolist()):
                    if x not in self.served_ids:
                        self.served_ids.add(x)
                        fresh[n] = True
                new_check.append(terms[i:m][fresh])
            taken += m - i
            if m < j:
                token = f'"{k}:{m - i0}"'.encode()
                break
        st = self.stats
        st.pages += 1
        st.rows += taken
        st.empty_pages += taken == 0
        if self.kind == "trades":
            rec = self.slices.setdefault(
                qs["start"][0],
                {"first_get": time.monotonic(), "rows": 0, "requests": 0,
                 "new_rows": 0, "new_check": [0] * len(tapes.TRADE_CHECK)},
            )
            rec["rows"] += taken
            rec["requests"] += 1
            if new_check:
                nc = np.concatenate(new_check)
                rec["new_rows"] += len(nc)
                rec["new_check"] = (np.asarray(rec["new_check"]) + nc.sum(axis=0)).tolist()
        return (
            b'{"' + self.data_key + b'":{' + b",".join(parts)
            + b'},"next_page_token":' + token + b"}"
        )

    # ----------------------------------------------------------- POSTs
    @staticmethod
    def _new_batch() -> dict:
        return {"rows": 0, "dup_landed": 0, "check": [0] * len(tapes.TRADE_CHECK)}

    def ingest(self, body: bytes) -> None:
        records = json.loads(body)["records"]
        ids = [int(r["id"]) for r in records]
        cents = [round(float(r["price"]) * 100) for r in records]
        size = [int(r["size"]) for r in records]
        b = self.open_batch
        b["rows"] += len(records)
        b["dup_landed"] += sum(x in self.landed_ids for x in ids)
        self.landed_ids.update(ids)
        if records:
            terms = tapes.trade_check_terms(ids, cents, size).sum(axis=0)
            b["check"] = (np.asarray(b["check"]) + terms).tolist()
        self.stats.posts += 1
        self.stats.posted_rows += len(records)

    def commit(self, body: bytes) -> None:
        manifest = json.loads(body)
        b = self.open_batch
        b.update(manifest=manifest, committed=time.monotonic())
        self.batches.append(b)
        self.open_batch = self._new_batch()
        self.stats.manifests += 1

    # --------------------------------------------------------- routing
    def data(self, method: str, target: str, body: bytes) -> tuple[int, bytes]:
        url = urlsplit(target)
        if method == "GET" and url.path == self.path:
            st = self.stats
            st.requests += 1
            st.repeats += target in st.seen
            st.seen.add(target)
            return 200, self.page(parse_qs(url.query))
        if method == "POST" and url.path == "/v1/ingest":
            self.ingest(body)
            return 200, b"{}"
        if method == "POST" and url.path == "/v1/commit":
            self.commit(body)
            return 200, b"{}"
        return 404, b'{"message":"not found"}'

    def control(self, method: str, target: str, body: bytes) -> tuple[int, bytes]:
        url = urlsplit(target)
        if url.path == "/stats":
            payload = json.dumps(self.stats.as_dict()).encode()
            if url.query == "epoch=1":
                self.stats.seen.clear()
            return 200, payload
        if url.path == "/connector":
            return 200, json.dumps({"slices": self.slices, "batches": self.batches}).encode()
        return 404, b"{}"


async def _serve_connection(reader, writer, route, stats: Stats | None) -> None:
    if stats is not None:
        stats.connections += 1
    try:
        while True:
            line = await reader.readline()
            if not line:
                return
            method, target, version = line.decode("latin-1").split()
            headers = {}
            while True:
                h = await reader.readline()
                if h in (b"\r\n", b"\n", b""):
                    break
                k, _, v = h.decode("latin-1").partition(":")
                headers[k.strip().lower()] = v.strip()
            n = int(headers.get("content-length", "0"))
            body = await reader.readexactly(n) if n else b""
            t0 = time.perf_counter()
            try:
                status, payload = route(method, target, body)
            except (KeyError, ValueError) as exc:  # a malformed request
                status, payload = 400, json.dumps({"message": repr(exc)}).encode()
            close = version == "HTTP/1.0" or headers.get("connection", "").lower() == "close"
            writer.write(
                b"HTTP/1.1 %d %s\r\ncontent-type: application/json\r\n"
                b"content-length: %d\r\nconnection: %s\r\n\r\n"
                % (status, {200: b"OK", 400: b"Bad Request"}.get(status, b"Not Found"), len(payload),
                   b"close" if close else b"keep-alive")
                + payload
            )
            if stats is not None:
                stats.serve_s += time.perf_counter() - t0
            await writer.drain()
            if close:
                return
    except (ConnectionError, asyncio.IncompleteReadError):
        return
    finally:
        writer.close()


async def _main(cfg: dict) -> None:
    app = StandIn(cfg)

    async def on_data(r, w):
        await _serve_connection(r, w, app.data, app.stats)

    async def on_control(r, w):
        await _serve_connection(r, w, app.control, None)

    limit = 1 << 20
    data = await asyncio.start_server(on_data, "127.0.0.1", 0, limit=limit, backlog=256)
    ctl = await asyncio.start_server(on_control, "127.0.0.1", 0, limit=limit)
    ports = [srv.sockets[0].getsockname()[1] for srv in (data, ctl)]
    print(f"READY {ports[0]} {ports[1]}", flush=True)
    loop = asyncio.get_running_loop()
    # the parent holds our stdin: EOF means it is gone or done with us
    await loop.run_in_executor(None, sys.stdin.read)
    data.close()
    ctl.close()


if __name__ == "__main__":
    asyncio.run(_main(json.loads(sys.argv[1])))
