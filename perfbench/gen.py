"""Seeded input generators. Every input the library sees is made here from
the workload seed; the same seed gives byte-identical files.

- live: an open-loop request plan (tenant, body) plus RS256 JWTs, one per
  tenant, signed with an RSA key that is itself derived from the seed.
- backfill: a JSON-lines dump spanning whole days across the tenants, the
  ledger it implies, and the query mix with the answer each query must give.
- corpus: documents and embeddings parquet files with an exact near-duplicate
  share and an exact eval-overlap share.
"""
import base64
import hashlib
import json
import os
import random

TENANTS = [f"tenant{i}" for i in range(8)]
EVENTS = ["click", "view", "purchase", "signup"]
REGIONS = ["us", "eu", "ap", "sa"]
KID = "bench-k1"
# tokens never expire within any run: 2100-01-01T00:00:00Z
TOKEN_EXP = 4102444800
# first day of the backfill dump (UTC midnight, 2026-03-02)
BACKFILL_EPOCH = 1772409600
ZIPF_S = 1.1
INVALID_SHARE = 0.10


def zipf_weights(n, s=ZIPF_S):
    w = [1.0 / (k + 1) ** s for k in range(n)]
    tot = sum(w)
    return [x / tot for x in w]


def _cum(weights):
    acc, out = 0.0, []
    for w in weights:
        acc += w
        out.append(acc)
    out[-1] = 1.0
    return out


def _pick(rng, cum):
    u = rng.random()
    for i, c in enumerate(cum):
        if u <= c:
            return i
    return len(cum) - 1


# ---- RSA / JWT (pure python, seeded) ------------------------------------

_SMALL_PRIMES = [p for p in range(3, 2000) if all(p % d for d in range(2, int(p ** 0.5) + 1))]


def _is_probable_prime(n, rng):
    if any(n % p == 0 for p in _SMALL_PRIMES):
        return n in _SMALL_PRIMES
    d, r = n - 1, 0
    while d % 2 == 0:
        d //= 2
        r += 1
    for _ in range(24):
        a = rng.randrange(2, n - 2)
        x = pow(a, d, n)
        if x in (1, n - 1):
            continue
        for _ in range(r - 1):
            x = pow(x, 2, n)
            if x == n - 1:
                break
        else:
            return False
    return True


def _prime(rng, bits):
    while True:
        c = rng.getrandbits(bits) | (1 << (bits - 1)) | (1 << (bits - 2)) | 1
        if _is_probable_prime(c, rng):
            return c


def rsa_key(seed, bits=2048):
    """(n, e, d) for an RSA key derived from the seed."""
    rng = random.Random(f"rsa-{seed}")
    e = 65537
    while True:
        p, q = _prime(rng, bits // 2), _prime(rng, bits // 2)
        phi = (p - 1) * (q - 1)
        if p != q and phi % e and (p * q).bit_length() == bits:
            return p * q, e, pow(e, -1, phi)


def _b64u(b):
    return base64.urlsafe_b64encode(b).rstrip(b"=").decode()


def _int_bytes(x):
    return x.to_bytes((x.bit_length() + 7) // 8, "big")


# DER prefix of the PKCS#1 v1.5 DigestInfo for SHA-256
_SHA256_PREFIX = bytes.fromhex("3031300d060960864801650304020105000420")


def sign_rs256(msg, n, d):
    k = (n.bit_length() + 7) // 8
    t = _SHA256_PREFIX + hashlib.sha256(msg).digest()
    em = b"\x00\x01" + b"\xff" * (k - len(t) - 3) + b"\x00" + t
    return pow(int.from_bytes(em, "big"), d, n).to_bytes(k, "big")


def jwt(claims, n, d):
    head = _b64u(json.dumps({"alg": "RS256", "kid": KID}, separators=(",", ":")).encode())
    body = _b64u(json.dumps(claims, separators=(",", ":")).encode())
    signing = f"{head}.{body}".encode()
    return f"{head}.{body}.{_b64u(sign_rs256(signing, n, d))}"


# ---- live ingest ---------------------------------------------------------

def live_plan(seed, n):
    """n requests: (tenant index, body, kind) with kind in
    valid | parse-error | validation-error."""
    rng = random.Random(f"live-{seed}")
    cum = _cum(zipf_weights(len(TENANTS)))
    out = []
    for i in range(n):
        t = _pick(rng, cum)
        dev = f"{TENANTS[t]}-{i:07d}"
        ev, rg = rng.choice(EVENTS), rng.choice(REGIONS)
        u = rng.random()
        if u < INVALID_SHARE / 2:
            kind = "parse-error"
            body = '{"Data":{"device":"%s","event":"%s"' % (dev, ev)
        elif u < INVALID_SHARE:
            kind = "validation-error"
            body = '{"Data":{"device":"%s","event":"%s"}}' % (dev, ev)
        else:
            kind = "valid"
            body = '{"Data":{"device":"%s","event":"%s","region":"%s"}}' % (dev, ev, rg)
        out.append((t, body, kind))
    return out


def write_live(seed, d, n):
    os.makedirs(d, exist_ok=True)
    plan = live_plan(seed, n)
    with open(os.path.join(d, "plan.jsonl"), "w") as f:
        for t, body, kind in plan:
            f.write(json.dumps({"t": t, "body": body, "kind": kind}) + "\n")
    nn, e, dd = rsa_key(seed)
    tokens = [jwt({"sub": f"producer-{t}", "custom:tenantId": t, "exp": str(TOKEN_EXP)}, nn, dd)
              for t in TENANTS]
    with open(os.path.join(d, "tokens.json"), "w") as f:
        json.dump({"tenants": TENANTS, "tokens": tokens}, f)
    with open(os.path.join(d, "jwks.json"), "w") as f:
        json.dump({"kid": KID, "n": _b64u(_int_bytes(nn)), "e": _b64u(_int_bytes(e))}, f)
    return plan


# ---- backfill + tenant SQL -----------------------------------------------

def backfill_dump(seed, days, per_hour):
    """Records (tenant, ts, device, event, region, kind, body) over `days`
    whole days. per_hour is the mean record count per hour across all
    tenants; tenants are Zipf-skewed but every tenant gets every hour."""
    rng = random.Random(f"backfill-{seed}")
    w = zipf_weights(len(TENANTS))
    recs, seq = [], 0
    for h in range(days * 24):
        base = BACKFILL_EPOCH + h * 3600
        for t, tw in enumerate(w):
            for _ in range(max(1, round(per_hour * tw))):
                ts = base + rng.randrange(3600)
                dev = f"b-{seq:08d}"
                seq += 1
                ev, rg = rng.choice(EVENTS), rng.choice(REGIONS)
                u = rng.random()
                if u < INVALID_SHARE / 2:
                    kind, body = "parse-error", '{"Data":{"device":"%s"' % dev
                elif u < INVALID_SHARE:
                    kind, body = "validation-error", '{"Data":{"device":"%s","event":"%s"}}' % (dev, ev)
                else:
                    kind = "valid"
                    body = '{"Data":{"device":"%s","event":"%s","region":"%s"}}' % (dev, ev, rg)
                recs.append((TENANTS[t], ts, dev, ev, rg, kind, body))
    return recs


def _day_parts(ts):
    import time
    g = time.gmtime(ts)
    return f"{g.tm_year:04d}", f"{g.tm_mon:02d}", f"{g.tm_mday:02d}", f"{g.tm_hour:02d}"


def backfill_queries(seed, recs, days, n):
    """The fixed query mix with each query's expected answer, computed from
    the dump's ledger. Rows are lists of strings, sorted."""
    valid = [r for r in recs if r[5] == "valid"]
    by_tenant = {t: [] for t in TENANTS}
    agg = {t: {} for t in TENANTS}      # event -> [count, regions]
    hours = {t: {} for t in TENANTS}    # (y, m, d) -> hour -> count
    cte = {t: {} for t in TENANTS}      # region -> count of non-view events
    for r in valid:
        t = r[0]
        by_tenant[t].append(r)
        a = agg[t].setdefault(r[3], [0, set()])
        a[0] += 1
        a[1].add(r[4])
        y, m, d, h = _day_parts(r[1])
        day = hours[t].setdefault((y, m, d), {})
        day[h] = day.get(h, 0) + 1
        if r[3] != "view":
            cte[t][r[4]] = cte[t].get(r[4], 0) + 1
    rng = random.Random(f"queries-{seed}")
    # each block of MIX_BLOCK queries holds every kind equally often and
    # the tenants in exact Zipf proportions, in a seeded order
    block = [(k, t) for k in KINDS for t, c in enumerate(_zipf_counts(MIX_BLOCK // len(KINDS)))
             for _ in range(c)]
    out = []
    for i in range(n):
        if i % MIX_BLOCK == 0:
            rng.shuffle(block)
        kind, t = block[i % MIX_BLOCK]
        t = TENANTS[t]
        if kind == "aggregate":
            sql = ("SELECT event, count(*) AS n, count(DISTINCT region) AS regions "
                   "FROM tenant_events GROUP BY event")
            exp = [[ev, str(a[0]), str(len(a[1]))] for ev, a in agg[t].items()]
        elif kind == "day":
            y, m, d, _ = _day_parts(BACKFILL_EPOCH + rng.randrange(days) * 86400)
            sql = ("SELECT hour, count(*) AS n FROM tenant_events "
                   f"WHERE year = '{y}' AND month = '{m}' AND day = '{d}' GROUP BY hour")
            exp = [[h, str(c)] for h, c in hours[t].get((y, m, d), {}).items()]
        elif kind == "point":
            # every other lookup names another tenant's device: the guard
            # must return nothing for it
            pool = valid if rng.random() < 0.5 else by_tenant[t]
            r = pool[rng.randrange(len(pool))]
            sql = ("SELECT device, event, region, timestamp FROM tenant_events "
                   f"WHERE device = '{r[2]}'")
            exp = [[r[2], r[3], r[4], str(r[1])]] if r[0] == t else []
        else:
            sql = ("WITH r AS (SELECT region, event, count(*) AS n FROM tenant_events "
                   "GROUP BY region, event) "
                   "SELECT region, sum(n) AS n FROM r WHERE event <> 'view' GROUP BY region")
            exp = [[rg, str(c)] for rg, c in cte[t].items()]
        out.append({"tenant": t, "kind": kind, "sql": sql, "expected": sorted(exp)})
    return out


KINDS = ["aggregate", "day", "point", "cte"]
MIX_BLOCK = 48


def _zipf_counts(total):
    """Largest-remainder split of total over the tenants by Zipf weight."""
    w = zipf_weights(len(TENANTS))
    counts = [int(total * x) for x in w]
    rest = sorted(range(len(w)), key=lambda i: -(total * w[i] - counts[i]))
    for i in rest[:total - sum(counts)]:
        counts[i] += 1
    return counts


def backfill_ledger(recs):
    valid = sum(1 for r in recs if r[5] == "valid")
    errs = {}
    for r in recs:
        if r[5] != "valid":
            errs[r[5]] = errs.get(r[5], 0) + 1
    return {"records": len(recs), "valid": valid, "errors": errs,
            "user_bytes": sum(len(r[6].encode()) for r in recs if r[5] == "valid")}


def write_backfill(seed, d, days, per_hour, n_queries, warm_hours=0):
    """The dump, its ledger and the query mix; plus a warm-up dump holding
    the first warm_hours hours of the dump, for a scratch lake."""
    recs = backfill_dump(seed, days, per_hour)
    warm_end = BACKFILL_EPOCH + warm_hours * 3600
    for sub, part in (("dump", recs), ("warm_dump", [r for r in recs if r[1] < warm_end])):
        os.makedirs(os.path.join(d, sub), exist_ok=True)
        with open(os.path.join(d, sub, "part-0.json"), "w") as f:
            for t, ts, _, _, _, _, body in part:
                f.write(json.dumps({"value": body, "tk": t, "ts": ts}) + "\n")
    ledger = backfill_ledger(recs)
    with open(os.path.join(d, "ledger.json"), "w") as f:
        json.dump(ledger, f)
    qs = backfill_queries(seed, recs, days, n_queries)
    with open(os.path.join(d, "queries.jsonl"), "w") as f:
        for q in qs:
            f.write(json.dumps(q) + "\n")
    return ledger, qs


# ---- corpus --------------------------------------------------------------

VOCAB = ("batch part spark line column order small sort fast value scan hash slow "
         "group agg filter query big key window row table stream merge data join "
         "vector customer index shard token model train eval page text word graph "
         "node edge cache disk memory network cluster worker driver task stage plan "
         "schema record event tenant region device metric trace span layer lake "
         "file block commit offset trigger source sink").split()
MARKERS = {
    "en": ["the", "a", "is", "of", "and", "to"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est"],
}
NEAR_DUP_EVERY = 7        # ~14% near-duplicates
CONTAMINATED_EVERY = 20   # 5% of docs carry an eval span


def _doc(rng):
    lang = rng.choices(["en", "de", "fr"], weights=[0.7, 0.15, 0.15])[0]
    n = rng.randrange(12, 90)  # >= 12 words: every eval doc has a 10-word span
    words = []
    for _ in range(n):
        words.append(rng.choice(MARKERS[lang]) if rng.random() < 0.12 else rng.choice(VOCAB))
    return words


def corpus_docs(seed, n):
    """n documents; ids 0..n-1, ids divisible by 10 form the eval set.
    Every NEAR_DUP_EVERY-th doc is a one-word edit of an earlier original
    doc, and every CONTAMINATED_EVERY-th train doc embeds a 10-word span of
    an eval doc: the shares are exact, only the content depends on the seed."""
    rng = random.Random(f"corpus-{seed}")
    docs, originals = [], []
    for i in range(n):
        if i > 10 and i % NEAR_DUP_EVERY == 3:
            # edits of originals only: clusters are stars, not chains
            w = list(docs[rng.choice(originals)])
            w[rng.randrange(len(w))] = rng.choice(VOCAB)
        elif i > 10 and i % CONTAMINATED_EVERY == 5:
            ev = docs[10 * rng.randrange(i // 10)]
            w = _doc(rng)
            s = rng.randrange(len(ev) - 9)
            at = rng.randrange(len(w) + 1)
            w = w[:at] + ev[s:s + 10] + w[at:]
        else:
            w = _doc(rng)
            originals.append(i)
        docs.append(w)
    return [" ".join(w) for w in docs]


def corpus_embeddings(seed, n, dim=32, clusters=16):
    rng = random.Random(f"emb-{seed}")
    cents = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(clusters)]
    out = []
    for _ in range(n):
        c = cents[rng.randrange(clusters)]
        # 4-decimal values keep every cosine exactly reproducible in float32
        out.append([round(x + rng.gauss(0, 0.35), 4) for x in c])
    return out


def write_corpus(seed, d, n_docs, n_vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(os.path.join(d, "documents"), exist_ok=True)
    os.makedirs(os.path.join(d, "embeddings"), exist_ok=True)
    texts = corpus_docs(seed, n_docs)
    pq.write_table(pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   os.path.join(d, "documents", "part-0.parquet"))
    vecs = corpus_embeddings(seed, n_vecs)
    pq.write_table(pa.table({"vec_id": pa.array(range(n_vecs), pa.int64()),
                             "embedding": pa.array(vecs, pa.list_(pa.float32()))}),
                   os.path.join(d, "embeddings", "part-0.parquet"))
    return texts, vecs
