"""Seeded input generators for the four workloads, plus input fingerprints.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical files. The program under test only ever sees the files these
functions write.

A fingerprint is ``{"docs", "spans", "sha256"}`` over a canonical encoding
of the generated rows (for ``events_rank`` the docs are users and the spans
events; for ``har_captures`` it counts files' bytes instead of spans). Set-up
regenerates a small probe at the reference seed and compares it with
``fingerprints.json``, so a generator change that would silently move the
baseline fails the run instead.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REFERENCE_SEED = 0

_SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_ARROW_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), nullable=False), ("spans", pa.list_(_SPAN_TYPE))]
)


def _sha(chunks) -> str:
    h = hashlib.sha256()
    for c in chunks:
        h.update(c if isinstance(c, bytes) else str(c).encode())
        h.update(b"\x00")
    return h.hexdigest()


def docs_fingerprint(docs: list[dict]) -> dict:
    rows = sorted(docs, key=lambda d: d["doc_id"])
    return {
        "docs": len(rows),
        "spans": sum(len(d["spans"]) for d in rows),
        "sha256": _sha(json.dumps(d, sort_keys=True) for d in rows),
    }


def write_docs(docs: list[dict], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(docs, schema=DOCS_ARROW_SCHEMA)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# --------------------------------------------------------------- small_docs
def small_docs(seed: int, n_docs: int) -> list[dict]:
    """The library's own generator: zipf hot keys, 1-32 spans per doc."""
    from har2tree_spark.datagen import GenConfig, gen_docs  # noqa: PLC0415

    return gen_docs(seed, n_docs, GenConfig(max_spans=32))


# ---------------------------------------------------------------- mega_docs
_MEGA_KINDS = np.array(["html", "js", "css", "img", "empty"])
_MEGA_P = [0.30, 0.30, 0.10, 0.30 - 1 / 7, 1 / 7]  # one span in seven is empty


def mega_docs(seed: int, n_docs: int, min_spans: int, max_spans: int) -> list[dict]:
    """A few long documents in the parse-superlinearity probe shape: half the
    keys repeat inside a document, about one span in seven is an ``empty``
    twin of a valid key, and every span points at a key of the document."""
    out = []
    for d in range(n_docs):
        rng = np.random.default_rng(np.random.SeedSequence([seed, 7, d]))
        n = int(rng.integers(min_spans, max_spans + 1))
        base = int(rng.integers(1, 10**9))
        half = max(1, n // 2)
        kinds = rng.choice(_MEGA_KINDS, size=n, p=_MEGA_P)
        kinds[0] = "html"  # the root is a valid page
        spans = []
        for i in range(n):
            own = base + i % half + 1
            if kinds[i] == "empty":
                # twin of an earlier span's key (suppressed by the dedup rule)
                text = f"k{base + int(rng.integers(0, max(1, i))) % half + 1}"
                media = ""
            else:
                text = f"k{own} k{base + (i + 2) % half + 1} body"
                media = f"k{base + int(rng.integers(0, max(1, i))) % half + 1}" if i else ""
            spans.append(
                {"kind": str(kinds[i]), "text": text, "media_ref": media, "offset": i * 10}
            )
        out.append({"doc_id": f"mega-{d:03d}", "spans": spans})
    return out


# ------------------------------------------------------------- events_rank
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])


def events_table(seed: int, n_events: int, n_users: int) -> pa.Table:
    """The ``events`` table shape of the repository's sf fixtures: sequential
    event ids in time order over January 2024, uniform users and event
    types, exponential values rounded to cents."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 11]))
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.choice(30 * 86400 * 10**6, size=n_events, replace=False)) + t0
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )


def events_fingerprint(table: pa.Table) -> dict:
    cols = [table.column(c).to_numpy(zero_copy_only=False) for c in table.column_names]
    return {
        "docs": int(len(np.unique(cols[2]))),
        "spans": table.num_rows,
        "sha256": _sha(
            np.ascontiguousarray(c).tobytes() if c.dtype != object else "\x01".join(c)
            for c in cols
        ),
    }


def write_events(table: pa.Table, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


# ------------------------------------------------------------ har_captures
_HOSTS = [f"site{i}.example" for i in range(40)]
_CDNS = [f"cdn{i}.example" for i in range(8)]
_ADS = [f"ads{i}.example" for i in range(4)]
_RES = (
    ("js", "application/javascript", "script", '<script src="{u}"></script>'),
    ("css", "text/css", "stylesheet", '<link rel="stylesheet" href="{u}">'),
    ("png", "image/png", "image", '<img src="{u}">'),
)


def _ts(sec: float) -> str:
    whole = int(sec)
    return f"2024-02-01T{whole // 3600:02d}:{whole // 60 % 60:02d}:{whole % 60:02d}.{int((sec - whole) * 1000):03d}Z"


def _entry(url, t, status, mime, rtype, *, referer=None, redirect="", body="",
           sent=(), received=(), pageref=None):
    headers = [{"name": "User-Agent", "value": "perfbench/1.0"}]
    if referer:
        headers.append({"name": "Referer", "value": referer})
    e = {
        "startedDateTime": _ts(t),
        "_resourceType": rtype,
        "request": {
            "method": "GET",
            "url": url,
            "headers": headers,
            "cookies": [{"name": n, "value": v} for n, v in sent],
        },
        "response": {
            "status": status,
            "redirectURL": redirect,
            "headers": [],
            "cookies": [{"name": n, "value": v, "domain": d} for n, v, d in received],
            "content": {"mimeType": mime, "text": body},
        },
    }
    if pageref:
        e["pageref"] = pageref
    return e


def _capture(rng: np.random.Generator, cap: str) -> tuple[dict, dict]:
    """One HAR capture and what the report must say about it."""
    host = _HOSTS[int(rng.integers(0, len(_HOSTS)))]
    n_redirects = int(rng.integers(0, 4))
    two_pages = rng.random() < 0.25
    n_pages = 2 if two_pages else 1
    entries: list[dict] = []
    sent_all: set[str] = set()
    received_all: set[tuple] = set()
    hosts: set[str] = set()
    t = float(rng.integers(0, 3600))
    pages = []
    for p in range(n_pages):
        pid = f"page_{p + 1}"
        landing = f"https://{host}/{cap}/p{p}/index.html"
        chain = [f"https://{host}/{cap}/p{p}/r{j}" for j in range(n_redirects if p == 0 else 0)]
        pages.append({"id": pid, "title": f"{cap} page {p + 1}", "startedDateTime": _ts(t)})
        for j, u in enumerate(chain):
            nxt = chain[j + 1] if j + 1 < len(chain) else landing
            entries.append(_entry(u, t, 301, "text/html", "document", redirect=nxt, pageref=pid))
            hosts.add(host)
            t += 0.05
        # resources: some embedded in the landing body, some only Referer-linked
        n_res = int(rng.integers(3, 14))
        res = []
        for r in range(n_res):
            ext, mime, rtype, tag = _RES[int(rng.integers(0, len(_RES)))]
            pool = _CDNS if rng.random() < 0.6 else _ADS
            rhost = pool[int(rng.integers(0, len(pool)))]
            res.append((f"https://{rhost}/{cap}/p{p}/a{r}.{ext}", mime, rtype, tag, rhost))
        embedded = [x for x in res if rng.random() < 0.7]
        body = "<html><head><title>{}</title></head><body>{}</body></html>".format(
            f"{cap} page {p + 1}", "".join(x[3].format(u=x[0]) for x in embedded)
        )
        # the landing page sets a first-party cookie and, sometimes, a
        # third-party one scoped to an ad host
        recv = [("sid", f"{cap}-{p}", host)]
        if rng.random() < 0.5:
            recv.append(("trk", f"{cap}", "." + _ADS[0]))
        sent_landing = [("pref", "1")] if p else []
        entries.append(
            _entry(landing, t, 200, "text/html", "document", body=body,
                   referer=chain[-1] if chain else None, sent=sent_landing,
                   received=recv, pageref=pid)
        )
        hosts.add(host)
        for c in sent_landing:
            sent_all.add(f"{c[0]}={c[1]}")
        for n, v, d in recv:
            dom = d[1:] if d.startswith(".") else d
            received_all.add((dom, f"{n}={v}", not host.endswith(dom)))
        t += 0.2
        for url, mime, rtype, _tag, rhost in res:
            sent = [("sid", f"{cap}-{p}")] if rhost == host or rng.random() < 0.3 else []
            entries.append(
                _entry(url, t, 200, mime, rtype, referer=landing, body="x" * 16,
                       sent=sent, pageref=pid)
            )
            hosts.add(rhost)
            for c in sent:
                sent_all.add(f"{c[0]}={c[1]}")
            t += 0.01
        t += 5.0
    har = {"log": {"version": "1.2", "creator": {"name": "perfbench"}, "pages": pages,
                   "entries": entries}}
    expect = {
        "n_entries": len(entries),
        "total_redirects": n_redirects,
        "total_urls": len(entries),
        "n_unique_hostnames": len(hosts),
        "total_cookies_sent": len(sent_all),
        "total_cookies_received": len(received_all),
        "initial_title": pages[0]["title"],
        "landing": f"https://{host}/{cap}/p0/index.html",
    }
    return har, expect


def har_captures(seed: int, n_captures: int, corrupt_every: int) -> tuple[dict, dict]:
    """{relative file name: bytes} and {doc_id: expected report fields}.
    Every ``corrupt_every``-th capture is a truncated HAR (plain or
    gzipped) whose expected value is ``None``: it must be quarantined."""
    files: dict[str, bytes] = {}
    expect: dict[str, dict | None] = {}
    for i in range(n_captures):
        rng = np.random.default_rng(np.random.SeedSequence([seed, 13, i]))
        cap = f"cap-{i:05d}"
        har, exp = _capture(rng, cap)
        blob = json.dumps(har, separators=(",", ":")).encode()
        if corrupt_every and i % corrupt_every == corrupt_every - 1:
            blob = blob[: len(blob) // 2]
            exp = None
        if i % 5 == 4:
            files[f"{cap}.har.gz"] = gzip.compress(blob, mtime=0)
        else:
            files[f"{cap}.har"] = blob
        if exp is not None and i % 3 == 0:
            # the address-bar URL: the first page's landing URL
            files[f"{cap}.last_redirect.txt"] = exp["landing"].encode()
        expect[cap] = exp
    return files, expect


def har_fingerprint(files: dict[str, bytes]) -> dict:
    return {
        "docs": sum(1 for f in files if f.endswith((".har", ".har.gz"))),
        "bytes": sum(len(b) for b in files.values()),
        "sha256": _sha(x for name in sorted(files) for x in (name, files[name])),
    }


def write_files(files: dict[str, bytes], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for name, blob in files.items():
        with open(os.path.join(path, name), "wb") as fh:
            fh.write(blob)
