"""Seeded input generators for the benchmark's three parts (a workload
runs one or more of them; see run.py's WORKLOADS).

Every generator is a pure function of (seed, sizes): the same seed gives
byte-identical files, another seed gives different ones.  Each returns a
`facts` dict that lands in the benchmark result (rows, bytes, files,
distinct groups, skew, planted duplicates) and a `truth` dict the output
checks read.  The engine only ever sees the files written here.
"""

import gzip
import json
import os
import random

# --------------------------------------------------------------- sizes

# Sized so a run's cold set-up and a timed call of each part fit the run
# budget on a 4-core host; see NOTES.md for how they were chosen. A run
# uses a few of the generated batches; the rest are spares for longer
# `--seconds`.
ETL = dict(hosts=6000, days=14, active=0.6, scans_per_day=3, files=8,
           asns=300, skew=3.0, risks=6, countries=40, threshold=3)
CORPUS = dict(batches=12, docs=100, exact_frac=0.1, near_frac=0.1,
              min_words=100, max_words=180, vocab=4000, edits=2, buckets=4,
              setup_batches=1)
STREAM = dict(batches=12, users=600, active=0.5, events_per_user=3,
              event_types=8, late_frac=0.05, docs=40, planted_frac=0.2,
              eval_docs=30, passage_words=30, vocab=4000, warm_steps=1,
              eval_buckets=4)

DAY0 = 17897  # 2019-01-01 as days since the epoch


def _rng(seed, tag):
    # str seeds hash through sha512: stable across processes and Pythons
    return random.Random(f"{tag}:{seed}")


def _write_gz(path, lines):
    with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0,
            compresslevel=6) as gz:
        gz.write("".join(lines).encode())
    return os.path.getsize(path)


def _write_text(path, lines):
    data = "".join(lines).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


_CLOCK = []


def _iso(day, second):
    if not _CLOCK:
        _CLOCK.extend(f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}+00:00"
                      for s in range(86400))
    y, m, d = _ymd(day)
    return f"{y:04d}-{m:02d}-{d:02d}T{_CLOCK[second]}"


def _ymd(day):
    # civil-from-days (proleptic Gregorian), so no datetime per row
    z = day + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return yoe + era * 400 + (m <= 2), m, d


def _ip(host):
    # multiplying by an odd constant is a bijection mod 2^32: unique ips
    x = (host * 2654435761 + 0x0A000001) % (1 << 32)
    return f"{x >> 24}.{x >> 16 & 255}.{x >> 8 & 255}.{x & 255}"


# ------------------------------------------------------------------ etl

def etl_feed(out_dir, seed, p=ETL):
    """Gzip CSV scan feeds (`ts,ip,risk_id,asn,cc`) plus the three dims.

    Each host has one ip, ASN, country and risk; on each day it is seen
    with probability `active`, and then `scans_per_day` times (the
    duplicate factor the flagship dedup removes).  ASNs are drawn with
    `index = asns * u**skew`, so a few ASNs hold most hosts.  Hosts are
    spread over `files` feeds, as separate scanners would write them.
    """
    rng = _rng(seed, "etl")
    os.makedirs(out_dir, exist_ok=True)
    countries = sorted({"".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWZ")
                                for _ in range(2))
                        for _ in range(p["countries"] * 3)}
                       - {"T", "XY"})[:p["countries"]]
    asns = sorted(rng.sample(range(1000, 65000), p["asns"]))
    asn_cc = {a: rng.choice(countries) for a in asns}
    hosts = []
    for h in range(p["hosts"]):
        asn = asns[int(p["asns"] * rng.random() ** p["skew"])]
        hosts.append((_ip(h), rng.randrange(1, p["risks"] + 1), asn,
                      asn_cc[asn]))
    per_file = [[] for _ in range(p["files"])]
    groups = {}
    for day in range(DAY0, DAY0 + p["days"]):
        date = _iso(day, 0)[:11]
        for h, (ip, risk, asn, cc) in enumerate(hosts):
            if rng.random() >= p["active"]:
                continue
            key = (day, asn, risk, cc)
            groups[key] = groups.get(key, 0) + 1
            tail = f",{ip},{risk},{asn},{cc}\n"
            for _ in range(p["scans_per_day"]):
                sec = rng.randrange(86400)
                per_file[h % p["files"]].append(
                    (day, sec, date + _CLOCK[sec] + tail))
    feeds, nbytes, rows = [], 0, 0
    for i, recs in enumerate(per_file):
        recs.sort()
        path = os.path.join(out_dir, f"feed_{i:02d}.csv.gz")
        nbytes += _write_gz(path, ["ts,ip,risk_id,asn,cc\n"]
                            + [r[2] for r in recs])
        feeds.append(path)
        rows += len(recs)

    # dims: risk 6 has no dim row (the unmatched placeholder path); a
    # fifth of the countries and ASNs are missing (the repair path)
    risk_lines = ["id,slug,title,is_archived,taxonomy,measurement_units,"
                  "amplification_factor,description\n"]
    risk_lines += [f"{r},risk{r},Risk {r},false,scan,count,"
                   f"{rng.choice([1.5, 4, 41, 556.9])},\"risk {r}\"\n"
                   for r in range(1, p["risks"])]
    kept_cc = [c for c in countries if rng.random() < 0.8]
    kept_asn = [a for a in asns if rng.random() < 0.8]
    dims = {
        "risk": _dim(out_dir, "risk.csv", risk_lines),
        "country": _dim(out_dir, "country.csv",
                        ["id,name,slug,region,continent\n"]
                        + [f"{c},Country {c},country-{c.lower()},r,c\n"
                           for c in kept_cc]),
        "asn": _dim(out_dir, "asn.csv", ["number,title,country\n"]
                    + [f"{a},AS {a},{asn_cc[a]}\n" for a in kept_asn]),
    }
    over = sum(1 for n in groups.values() if n > p["threshold"])
    facts = dict(rows=rows, bytes=nbytes, files=p["files"],
                 days=p["days"], hosts=p["hosts"],
                 scans_per_host_per_day=p["scans_per_day"],
                 distinct_groups=len(groups), groups_over_threshold=over,
                 asns=p["asns"], asn_skew_exponent=p["skew"],
                 threshold=p["threshold"])
    truth = dict(feeds=feeds, dims=dims, threshold=p["threshold"],
                 groups_over_threshold=over, rows=rows, bytes=nbytes)
    return facts, truth


def _dim(out_dir, name, lines):
    path = os.path.join(out_dir, name)
    _write_text(path, lines)
    return path


# --------------------------------------------------------------- corpus

def _vocab(rng, n):
    syl = ["ka", "lo", "mi", "nu", "re", "sa", "ti", "vo", "ze", "po",
           "qua", "bri", "sto", "fle", "gor", "hin", "jax", "wel"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl)
                          for _ in range(rng.randrange(2, 5))))
    return sorted(words)


def _text(rng, vocab, n_words):
    v = len(vocab)
    return [vocab[int(v * rng.random() ** 2)] for _ in range(n_words)]


def corpus_batches(out_dir, seed, p=CORPUS):
    """Document batches (JSON lines `doc_id,text`) for refreshCorpus.

    Each batch plants exact duplicates and edited near-duplicates of
    ORIGINAL documents, drawn from the same batch or any earlier one: a
    fixed share of every batch (batch 0 can have fewer: a place before
    its first original gets an original).  Ids are monotone across batches, as the lifecycle
    requires.
    """
    rng = _rng(seed, "corpus")
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng, p["vocab"])
    originals = []  # (doc_id, words) of every original so far
    files, truth = [], []
    n_exact = n_near = 0
    for b in range(p["batches"]):
        base = (b + 1) * 1_000_000
        lines, exact, near = [], [], []
        # the planted counts are the same in every batch; their places
        # and sources are drawn
        n_ex = round(p["docs"] * p["exact_frac"])
        slots = rng.sample(range(p["docs"]),
                           n_ex + round(p["docs"] * p["near_frac"]))
        kind = dict.fromkeys(slots[n_ex:], "near")
        kind.update(dict.fromkeys(slots[:n_ex], "exact"))
        for i in range(p["docs"]):
            doc_id = base + i
            k = kind.get(i) if originals else None
            if k == "exact":
                src, words = rng.choice(originals)
                exact.append([doc_id, src])
            elif k == "near":
                src, words = rng.choice(originals)
                words = list(words)
                for _ in range(p["edits"]):
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                near.append([doc_id, src])
            else:
                words = _text(rng, vocab, rng.randrange(
                    p["min_words"], p["max_words"] + 1))
                originals.append((doc_id, words))
            lines.append(json.dumps({"doc_id": doc_id,
                                     "text": " ".join(words)}) + "\n")
        path = os.path.join(out_dir, f"batch_{b:03d}.json")
        nbytes = _write_text(path, lines)
        files.append(path)
        truth.append(dict(path=path, n=p["docs"], bytes=nbytes,
                          exact=exact, near=near))
        n_exact += len(exact)
        n_near += len(near)
    facts = dict(batches=p["batches"], docs_per_batch=p["docs"],
                 bytes_per_batch=sum(t["bytes"] for t in truth)
                 // len(truth),
                 planted_exact=n_exact, planted_near=n_near,
                 near_edits=p["edits"], vocab=p["vocab"],
                 index_buckets=p["buckets"])
    return facts, dict(batches=truth, buckets=p["buckets"],
                       setup_batches=p["setup_batches"])


# --------------------------------------------------------------- stream

def stream_inputs(out_dir, seed, p=STREAM):
    """Micro-batch files for the two streaming bridges.

    Flagship: batch 0 holds the first two days' scan events (`ts,
    user_id,event_type`), batch i > 0 day i+1's, each active user seen
    `events_per_user` times a day, plus late events from the second half
    of the day before.  With a 12-hour watermark none is dropped, and
    day 0's windows are emitted in the second micro-batch.

    Screen: batch i holds documents (`ts,doc_id,text`); a share of them
    quote a passage from the eval suite, the rest use a vocabulary the
    suite never uses, so the planted set is exactly the contaminated one.
    """
    rng = _rng(seed, "stream")
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng, 2 * p["vocab"])
    eval_vocab, doc_vocab = vocab[0::2], vocab[1::2]
    types = [f"type{t}" for t in range(p["event_types"])]

    eval_docs = [_text(rng, eval_vocab, 120) for _ in range(p["eval_docs"])]
    eval_path = os.path.join(out_dir, "eval.json")
    _write_text(eval_path, [json.dumps({"doc_id": i, "text": " ".join(w)})
                            + "\n" for i, w in enumerate(eval_docs)])

    ev_dir = os.path.join(out_dir, "events")
    doc_dir = os.path.join(out_dir, "docs")
    os.makedirs(ev_dir, exist_ok=True)
    os.makedirs(doc_dir, exist_ok=True)
    events, docs, planted = [], [], []
    ev_bytes = doc_bytes = ev_rows = 0
    for b in range(p["batches"]):
        days = [DAY0, DAY0 + 1] if b == 0 else [DAY0 + b + 1]
        day = days[-1]
        lines = []
        for d in days:
            for u in range(p["users"]):
                if rng.random() >= p["active"]:
                    continue
                for _ in range(p["events_per_user"]):
                    lines.append((d, rng.randrange(86400), u,
                                  rng.choice(types)))
        if b:
            for _ in range(int(len(lines) * p["late_frac"])):
                lines.append((day - 1, rng.randrange(43200, 86400),
                              rng.randrange(p["users"]),
                              rng.choice(types)))
        path = os.path.join(ev_dir, f"events_{b:04d}.json")
        nbytes = _write_text(path, [
            json.dumps({"ts": _iso(d, s), "user_id": f"u{u}",
                        "event_type": t}) + "\n"
            for d, s, u, t in lines])
        events.append(dict(path=path, rows=len(lines), bytes=nbytes))
        ev_bytes += nbytes
        ev_rows += len(lines)

        dlines, ids = [], []
        for i in range(p["docs"]):
            doc_id = (b + 1) * 100_000 + i
            words = _text(rng, doc_vocab, rng.randrange(60, 120))
            if rng.random() < p["planted_frac"]:
                src = rng.choice(eval_docs)
                at = rng.randrange(len(src) - p["passage_words"])
                cut = rng.randrange(len(words))
                words[cut:cut] = src[at:at + p["passage_words"]]
                planted.append(doc_id)
            ids.append(doc_id)
            dlines.append(json.dumps({
                "ts": _iso(day, rng.randrange(86400)), "doc_id": doc_id,
                "text": " ".join(words)}) + "\n")
        path = os.path.join(doc_dir, f"docs_{b:04d}.json")
        nbytes = _write_text(path, dlines)
        docs.append(dict(path=path, rows=len(ids), bytes=nbytes, ids=ids))
        doc_bytes += nbytes
    facts = dict(batches=p["batches"], event_rows=ev_rows,
                 event_bytes=ev_bytes, users=p["users"],
                 events_per_user_per_day=p["events_per_user"],
                 event_types=p["event_types"], late_frac=p["late_frac"],
                 docs_per_batch=p["docs"], doc_bytes=doc_bytes,
                 planted_contaminated=len(planted),
                 eval_docs=p["eval_docs"], eval_buckets=p["eval_buckets"],
                 passage_words=p["passage_words"])
    truth = dict(events=events, docs=docs, eval=eval_path,
                 planted=planted, passage_shingles=p["passage_words"] - 2,
                 warm_steps=p["warm_steps"], eval_buckets=p["eval_buckets"])
    return facts, truth


GENERATORS = {"etl_scan_feed": etl_feed, "corpus_refresh": corpus_batches,
              "stream_ingest": stream_inputs}
