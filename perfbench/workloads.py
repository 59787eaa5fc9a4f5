"""Input generators and output checkers of the three workloads.

Every generator draws from `random.Random` seeded by the run's seed, so one
seed gives the same inputs. Every checker recomputes the expected outputs
from the generator's own values, with code that shares nothing with the
program. Files are read and written as UTF-8 explicitly: the inputs hold
non-ASCII text, and a platform default charset could be ASCII.
"""
import json
import math
import random
import re
from collections import Counter, defaultdict
from pathlib import Path

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
WORDS = ("session opened closed for user root accepted publickey from port "
         "connection reset timeout started stopped reloading configuration "
         "queue active delivered deferred status sent relay disk usage warning "
         "error failed retry link up down interface address lease renewed "
         "request served cache miss hit backend upstream latency ms bytes "
         "café naïve über jalapeño Grüße 日本 Ελλάδα").split()


def write_text(path, text):
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    Path(path).write_text(text, encoding="utf-8")


def zipf_weights(n, s=1.1):
    return [1.0 / (i + 1) ** s for i in range(n)]


def part_files(d):
    """Spark's part files of an output directory, in partition order."""
    return sorted(p for p in Path(d).glob("part-*") if p.is_file())


def outcome(name, ok, detail=""):
    return {"check": name, "ok": bool(ok), "detail": detail}


# ---------------------------------------------------------------- replay

REPLAY_CONF = """module(load="imuxsock")
module(load="imklog")
module(load="imfile")
input(type="imfile" file="{spool}/*.log" tag="replay:" needparse="on")
$FileOwner root
$FileGroup adm
$FileCreateMode 0640
$WorkDirectory /var/spool/rsyslog
$ActionFileDefaultTemplate RSYSLOG_TraditionalFileFormat
local7.*                        /var/log/boot.log
& stop
auth,authpriv.*                 /var/log/auth.log
*.*;auth,authpriv.none          -/var/log/syslog
cron.*                          -/var/log/cron.log
kern.*                          -/var/log/kern.log
mail.err                        /var/log/mail.err
"""

# The selector lines above as (output file, facility/severity predicate);
# the first is followed by `& stop`. Facility 24 is rsyslog's "invld",
# given to a message whose PRI is out of range; `*` covers it.
REPLAY_ACTIONS = [
    ("boot.log", lambda f, s: f == 23),
    ("auth.log", lambda f, s: f in (4, 10)),
    ("syslog", lambda f, s: f not in (4, 10)),
    ("cron.log", lambda f, s: f == 9),
    ("kern.log", lambda f, s: f == 0),
    ("mail.err", lambda f, s: f == 2 and s <= 3),
]

FACILITY_PROGRAMS = {0: ["kernel"], 1: ["myapp", "backup"], 2: ["postfix", "dovecot"],
                     3: ["systemd", "dhclient", "ntpd"], 4: ["sshd", "login"],
                     9: ["CRON"], 10: ["sudo", "sshd"], 16: ["nginx", "haproxy"],
                     23: ["bootlogd"]}
FACILITY_WEIGHTS = {0: 6, 1: 18, 2: 10, 3: 22, 4: 8, 9: 8, 10: 6, 16: 16, 23: 6}
SEVERITY_WEIGHTS = [1, 1, 2, 6, 10, 20, 40, 20]
# malformed lines: a fixed number of each kind, whatever the seed
MALFORMED_EACH = 25
BAD_DATE_PRIS = [0 * 8 + 3, 2 * 8 + 2, 4 * 8 + 6, 9 * 8 + 6, 23 * 8 + 5]


def replay_routes(fac, sev):
    out = []
    for i, (name, pred) in enumerate(REPLAY_ACTIONS):
        if pred(fac, sev):
            out.append(name)
            if i == 0:
                break
    return out


def rfc3164_date(mon, day, hh, mm, ss):
    return f"{MONTHS[mon - 1]} {day:2d} {hh:02d}:{mm:02d}:{ss:02d}"


def gen_replay(work, seed, n):
    """Spool of `n` lines; returns what each action must hold."""
    rng = random.Random(seed * 7919 + 1)
    hosts = [f"{p}{i:02d}" for p in ("web", "db", "cache", "edge") for i in range(1, 11)]
    rng.shuffle(hosts)
    hw = zipf_weights(len(hosts))
    facs = list(FACILITY_WEIGHTS)
    fw = [FACILITY_WEIGHTS[f] for f in facs]

    def body(k):
        words = rng.choices(WORDS, k=rng.randint(4, 12))
        return " ".join(words) + f" seq={k}"

    def date():
        return (rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23),
                rng.randint(0, 59), rng.randint(0, 59))

    lines = []   # raw spool lines
    expect = []  # (facility, severity, rendered line or None, marker or None)
    n_mal = 3 * MALFORMED_EACH
    for k in range(n - n_mal):
        fac = rng.choices(facs, fw)[0]
        sev = rng.choices(range(8), SEVERITY_WEIGHTS)[0]
        host = rng.choices(hosts, hw)[0]
        prog = rng.choice(FACILITY_PROGRAMS[fac])
        b = body(k)
        if rng.random() < 0.12:
            # RFC5424: TAG is APP-NAME[PROCID] with no colon, MSG has no
            # leading space, so sp-if-no-1st-sp supplies one
            mon, day, hh, mm, ss = date()
            procid = str(rng.randint(100, 65000)) if rng.random() < 0.6 else "-"
            msgid = "ID47" if rng.random() < 0.5 else "-"
            sd = ('[exampleSDID@32473 iut="3" eventSource="Application" '
                  f'eventID="{rng.randint(1000, 1999)}"]') if rng.random() < 0.5 else "-"
            ts = f"2024-{mon:02d}-{day:02d}T{hh:02d}:{mm:02d}:{ss:02d}.{rng.randint(0, 999999):06d}Z"
            lines.append(f"<{fac * 8 + sev}>1 {ts} {host} {prog} {procid} {msgid} {sd} {b}")
            tag = prog if procid == "-" else f"{prog}[{procid}]"
            rendered = f"{rfc3164_date(mon, day, hh, mm, ss)} {host} {tag} {b}"
        else:
            mon, day, hh, mm, ss = date()
            form = rng.random()
            if form < 0.5:
                tag, msg = f"{prog}[{rng.randint(100, 65000)}]:", " " + b
            elif form < 0.75:
                tag, msg = f"{prog}:", " " + b
            elif form < 0.9:
                tag, msg = f"{prog}:", b
            else:
                tag, msg = prog, " " + b
            d = rfc3164_date(mon, day, hh, mm, ss)
            lines.append(f"<{fac * 8 + sev}>{d} {host} {tag}{msg}")
            sp = "" if msg.startswith(" ") else " "
            rendered = f"{d} {host} {tag}{sp}{msg}"
        expect.append((fac, sev, rendered, None))

    mal = []
    for k in range(MALFORMED_EACH):
        host = rng.choices(hosts, hw)[0]
        mon, day, hh, mm, ss = date()
        d = rfc3164_date(mon, day, hh, mm, ss)
        # no PRI: the default user.notice, the rest parses as usual
        m = f"mf-nopri-{k:02d}"
        pid = rng.randint(100, 65000)
        b = body(k)
        mal.append((f"{d} {host} myapp[{pid}]: {b} {m}", 1, 5,
                    f"{d} {host} myapp[{pid}]: {b} {m}", None))
        # PRI out of range: facility invld, severity debug
        m = f"mf-badpri-{k:02d}"
        bad = [192, 200, 255, 999][k % 4]
        mal.append((f"<{bad}>{d} {host} myapp: {body(k)} {m}", 24, 7, None, m))
        # a date no calendar has: routed by its valid PRI
        m = f"mf-baddate-{k:02d}"
        pri = BAD_DATE_PRIS[k % len(BAD_DATE_PRIS)]
        bad_day = ["Feb 30", "Feb 31", "Apr 31", "Jun 31", "Nov 31"][k % 5]
        mal.append((f"<{pri}>{bad_day} {hh:02d}:{mm:02d}:{ss:02d} {host} myapp: {body(k)} {m}",
                    pri >> 3, pri & 7, None, m))
    for line, fac, sev, rendered, marker in mal:
        pos = rng.randint(0, len(lines))
        lines.insert(pos, line)
        expect.insert(pos, (fac, sev, rendered, marker))

    spool = Path(work) / "spool"
    write_text(spool / "messages.log", "\n".join(lines) + "\n")
    write_text(Path(work) / "replay.conf", REPLAY_CONF.format(spool=spool.resolve()))
    per_action = {name: [] for name, _ in REPLAY_ACTIONS}
    for fac, sev, rendered, marker in expect:
        for name in replay_routes(fac, sev):
            per_action[name].append((rendered, marker))
    return per_action


def check_replay(work, per_action):
    """Per action: record count, rendered lines, and the file's bytes; then
    each malformed kind by the actions it reached and how often."""
    out = []
    records_of = {}
    for name, expected in per_action.items():
        data = b"".join(p.read_bytes() for p in part_files(Path(work) / "out" / name))
        text = data.decode("utf-8")
        records = [r for r in text.split("\n") if r != ""]
        records_of[name] = records
        out.append(outcome(f"count:{name}", len(records) == len(expected),
                           f"{len(records)} records, expected {len(expected)}"))
        bad = [i for i, (r, (line, marker)) in enumerate(zip(records, expected))
               if (r != line if marker is None else marker not in r)]
        out.append(outcome(f"render:{name}", not bad and len(records) == len(expected),
                           f"first mismatch at record {bad[0]}: {records[bad[0]]!r} "
                           f"vs {expected[bad[0]]!r}" if bad else ""))
        # byte-exact: each record is its template's text, which ends in LF;
        # lines checked only by marker contribute the program's own text
        if len(records) == len(expected):
            want = "".join((line if marker is None else r) + "\n"
                           for r, (line, marker) in zip(records, expected))
            out.append(outcome(f"write:{name}", data == want.encode("utf-8"),
                               f"{len(data)} bytes, expected {len(want.encode('utf-8'))}"))
        else:
            out.append(outcome(f"write:{name}", False, "record count differs"))
    for kind in ("nopri", "badpri", "baddate"):
        tag = f"mf-{kind}-"
        got = {n: sum(tag in r for r in rs) for n, rs in records_of.items()}
        want = {n: sum(1 for line, marker in ex
                       if tag in (marker or line or "")) for n, ex in per_action.items()}
        out.append(outcome(f"malformed:{kind}", got == want, f"got {got}, expected {want}"))
    return out


# ---------------------------------------------------------------- tail

TAIL_CONF = """lookup_table(name="tier" file="{tier}")
template(name="tailfmt" type="string" string="%$!seq% %hostname% %programname% %$!tier% %$!lvl% %$!user%")
action(type="mmjsonparse")
set $!tier = lookup("tier", $hostname);
if $!status >= 500 then {{
  set $!lvl = "error";
}} else {{
  if $!status >= 400 then {{
    set $!lvl = "warn";
  }} else {{
    set $!lvl = "ok";
  }}
}}
:programname, isequal, "healthcheck" stop
action(type="omfile" file="/var/log/app.log" template="tailfmt")
"""
TAIL_PROGRAMS = ["api", "auth", "billing", "search", "cart", "mailer", "render",
                 "queue", "report", "healthcheck"]
TAIL_PARAMS = {"interval_ms": 1000, "burst": 25, "dyn_cap": 7}
# event time advances 1 ms per message from here, so each host's messages
# arrive in event-time order and no two share a millisecond
TAIL_EPOCH_MS = 1709287200000  # 2024-03-01T10:00:00Z


def tail_message(rng, seq, hosts, hw):
    host = rng.choices(hosts, hw)[0]
    prog = rng.choices(TAIL_PROGRAMS, [30, 12, 8, 10, 9, 6, 7, 5, 3, 10])[0]
    status = rng.choices([200, 204, 404, 429, 500, 503], [70, 8, 10, 4, 5, 3])[0]
    lat = int(rng.paretovariate(1.2) * 8)
    user = f"u{rng.randint(1, 500)}"
    ms = TAIL_EPOCH_MS + seq
    ts = (f"2024-03-01T{(ms // 3600000) % 24:02d}:{(ms // 60000) % 60:02d}:"
          f"{(ms // 1000) % 60:02d}.{ms % 1000:03d}Z")
    body = json.dumps({"seq": seq, "user": user, "status": status, "lat": lat},
                      separators=(",", ":"))
    line = f"<{16 * 8 + 6}>1 {ts} {host} {prog} - - - @cee: {body}"
    return line, dict(seq=seq, host=host, prog=prog, status=status, lat=lat,
                      user=user, ms=ms)


def gen_tail(work, seed, n_files, per_file):
    rng = random.Random(seed * 7919 + 2)
    hosts = [f"node{i:02d}" for i in range(30)]
    rng.shuffle(hosts)
    hw = zipf_weights(len(hosts))
    tiers = {h: ["gold", "silver", "bronze"][i % 3] for i, h in enumerate(sorted(hosts)[:20])}
    table = {"version": 1, "nomatch": "none", "type": "string",
             "table": [{"index": h, "value": v} for h, v in sorted(tiers.items())]}
    write_text(Path(work) / "tier.json", json.dumps(table))
    write_text(Path(work) / "tail.conf",
               TAIL_CONF.format(tier=(Path(work) / "tier.json").resolve()))
    write_text(Path(work) / "tail.params",
               "".join(f"{k}={v}\n" for k, v in TAIL_PARAMS.items()))
    files, msgs = [], []
    seq = 0
    for _ in range(n_files):
        lines = []
        for _ in range(per_file):
            line, m = tail_message(rng, seq, hosts, hw)
            lines.append(line)
            msgs.append(m)
            seq += 1
        files.append("\n".join(lines) + "\n")
    return files, {"msgs": msgs, "tiers": tiers}


def tail_expected(meta):
    """Payloads that survive the ruleset and the per-host rate limit, and
    the dyn_stats counters over the ruleset's output."""
    passed = {}
    used = Counter()
    counters, overflow = {}, 0
    for m in meta["msgs"]:  # generation order is event-time order
        lvl = "error" if m["status"] >= 500 else "warn" if m["status"] >= 400 else "ok"
        if m["prog"] == "healthcheck":
            continue
        if m["prog"] in counters:
            counters[m["prog"]] += 1
        elif len(counters) < TAIL_PARAMS["dyn_cap"]:
            counters[m["prog"]] = 1
        else:
            overflow += 1
        window = (m["host"], m["ms"] // TAIL_PARAMS["interval_ms"])
        if used[window] < TAIL_PARAMS["burst"]:
            used[window] += 1
            tier = meta["tiers"].get(m["host"], "none")
            passed[m["seq"]] = (m["host"],
                                f"{m['seq']} {m['host']} {m['prog']} {tier} {lvl} {m['user']}")
    if overflow:
        counters["ops_overflow"] = overflow
    return passed, counters


def check_tail(work, meta, backlog_msgs, backlog_bound):
    passed, counters = tail_expected(meta)
    records = []
    for p in part_files(Path(work) / "out" / "messages"):
        records += [r for r in p.read_text(encoding="utf-8").split("\n") if r != ""]
    seqs = Counter(int(r.split(" ", 1)[0]) for r in records)
    dup = sum(1 for c in seqs.values() if c > 1)
    missing = len(set(passed) - set(seqs))
    extra = len(set(seqs) - set(passed))
    out = [outcome("exactly_once", dup == 0 and missing == 0 and extra == 0,
                   f"{dup} duplicated, {missing} missing, {extra} unexpected")]
    bad = [r for r in records if passed.get(int(r.split(" ", 1)[0]), (None, None))[1] != r]
    out.append(outcome("payloads", not bad, f"first wrong: {bad[0]!r}" if bad else ""))
    want_hosts = Counter(h for h, _ in passed.values())
    got_hosts = Counter(r.split(" ", 2)[1] for r in records)
    out.append(outcome("ratelimit_per_host", got_hosts == want_hosts,
                       f"got {dict(got_hosts)}, expected {dict(want_hosts)}"))
    got = {d["metric"]: d["value"] for d in
           json.loads((Path(work) / "dynstats.json").read_text(encoding="utf-8"))}
    out.append(outcome("dynstats", got == counters, f"got {got}, expected {counters}"))
    out.append(outcome("backlog", backlog_msgs <= backlog_bound,
                       f"{backlog_msgs} messages uncommitted when the last file was due "
                       f"(bound {backlog_bound})"))
    return out


def file_batches(checkpoint):
    """file name -> micro-batch id, from the file source's own log."""
    found = {}
    for p in sorted(Path(checkpoint, "sources", "0").glob("*")):
        if p.name.startswith("."):
            continue
        for line in p.read_text(encoding="utf-8").splitlines()[1:]:
            e = json.loads(line)
            name = e["path"].rsplit("/", 1)[-1]
            found[name] = min(found.get(name, e["batchId"]), e["batchId"])
    return found


# ---------------------------------------------------------------- corpus

SHINGLE_N = 3
MIN_JACCARD = 0.5
BM25_K = 10
K1, B = 1.2, 0.75
WS = re.compile(r"[ \t\n\x0b\f\r]+")


def tokens(text):
    return [t for t in WS.split(text.lower()) if t]


def shingles(text, n=SHINGLE_N):
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    if not sa and not sb:
        return 0.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def gen_corpus(work, seed, n_docs):
    rng = random.Random(seed * 7919 + 3)
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zu", "pa", "di", "go",
            "ha", "je", "ko", "li", "mo", "ni", "po", "ri"]
    vocab = sorted({"".join(rng.choices(syll, k=rng.randint(2, 4))) for _ in range(5000)})
    rng.shuffle(vocab)
    vocab += ["café", "naïve", "über", "jalapeño", "façade", "smörgåsbord"]
    cum, acc = [], 0.0
    for w in zipf_weights(len(vocab), 1.05):
        acc += w
        cum.append(acc)

    def doc():
        return rng.choices(vocab, cum_weights=cum, k=rng.randint(30, 90))

    texts = []          # (text, group) in generation order
    exact_groups = []   # lists of indexes into texts
    families = []
    while len(texts) < n_docs:
        r = rng.random()
        base = doc()
        if r < 0.08:    # an exact duplicate group of 2-4 byte-identical docs
            idx = [len(texts) + i for i in range(rng.randint(2, 4))]
            texts += [" ".join(base)] * len(idx)
            exact_groups.append(idx)
        elif r < 0.20:  # a near-duplicate family: base plus 1-2 edited copies
            idx = [len(texts)]
            texts.append(" ".join(base))
            for _ in range(rng.randint(1, 2)):
                # a known edit rate, and never zero edits: an unedited copy
                # would be an exact duplicate nobody planted
                rate = rng.choice([0.03, 0.06, 0.1])
                v = list(base)
                for p in rng.sample(range(len(v)), max(1, round(rate * len(v)))):
                    v[p] = rng.choice([w for w in rng.sample(vocab, 3) if w != v[p]])
                idx.append(len(texts))
                texts.append(" ".join(v))
            families.append(idx)
        else:
            texts.append(" ".join(base))
    texts = texts[:n_docs]
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)    # doc ids carry no hint of the planting
    docs = {ids[i]: t for i, t in enumerate(texts)}
    exact = sorted((min(ids[i] for i in g if i < len(texts)), sum(1 for i in g if i < len(texts)))
                   for g in exact_groups)
    exact = [e for e in exact if e[1] > 1]
    planted = set()
    for f in families:
        f = [ids[i] for i in f if i < len(texts)]
        for i in range(len(f)):
            for j in range(i + 1, len(f)):
                a, b = sorted((f[i], f[j]))
                if jaccard(docs[a], docs[b]) >= MIN_JACCARD:
                    planted.add((a, b))
    mid = vocab[20:400]
    queries = [{"query_id": q, "qt": rng.sample(mid, rng.randint(2, 3))} for q in range(1, 33)]
    with open(Path(work) / "docs.jsonl", "w", encoding="utf-8") as f:
        for i in sorted(docs):
            f.write(json.dumps({"id": i, "text": docs[i]}, ensure_ascii=False) + "\n")
    with open(Path(work) / "queries.jsonl", "w", encoding="utf-8") as f:
        for q in queries:
            f.write(json.dumps(q) + "\n")
    return {"docs": docs, "exact": exact, "planted": planted, "queries": queries}


def bm25_topk(docs, queries, k=BM25_K):
    """BM25 as integer micro-scores per (doc, term), summed per query; ties
    broken by doc id."""
    toks = {d: tokens(t) for d, t in docs.items()}
    nd = len(toks)
    avgdl = float(sum(len(t) for t in toks.values())) / float(nd)
    tf = defaultdict(dict)  # term -> doc -> count
    wanted = {t for q in queries for t in q["qt"]}
    for d, ts in toks.items():
        for t, c in Counter(x for x in ts if x in wanted).items():
            tf[t][d] = c
    out = {}
    for q in queries:
        score = Counter()
        for t in q["qt"]:
            df = len(tf[t])
            idf = math.log(1.0 + (float(nd) - df + 0.5) / (df + 0.5))
            for d, c in tf[t].items():
                dl = len(toks[d])
                part = (c * (K1 + 1.0)) / (c + K1 * ((1.0 - B) + B * (dl / avgdl)))
                score[d] += math.floor(idf * part * 1e6)
        ranked = sorted(score.items(), key=lambda x: (-x[1], x[0]))[:k]
        out[q["query_id"]] = [(i + 1, d, s) for i, (d, s) in enumerate(ranked)]
    return out


def check_corpus(work, meta):
    o = Path(work) / "out"
    load = lambda n: json.loads((o / n).read_text(encoding="utf-8"))
    out = []
    exact = sorted((a, b) for a, b in load("exact.json"))
    out.append(outcome("exact_groups", exact == meta["exact"],
                       f"{len(exact)} groups, {len(meta['exact'])} planted"))
    pairs = load("pairs.json")
    docs = meta["docs"]
    bad = [(a, b, j) for a, b, j in pairs
           if not (jaccard(docs[a], docs[b]) >= MIN_JACCARD
                   and abs(jaccard(docs[a], docs[b]) - j) <= 5.000001e-5)]
    out.append(outcome("neardup_verified", not bad,
                       f"{len(bad)} of {len(pairs)} pairs fail, e.g. {bad[:1]}"))
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in list(parent)}
    got = {d: c for d, c in load("clusters.json")}
    out.append(outcome("clusters", got == want, f"{len(got)} docs, expected {len(want)}"))
    ranked = defaultdict(list)
    for q, rk, d, s in load("bm25.json"):
        ranked[q].append((rk, d, s))
    ranked = {q: sorted(v) for q, v in ranked.items()}
    expect = {q: v for q, v in bm25_topk(docs, meta["queries"]).items() if v}
    diff = [q for q in expect if ranked.get(q) != expect[q]]
    out.append(outcome("bm25_topk", not diff and set(ranked) == set(expect),
                       f"queries differing: {diff[:3]}"))
    found = {(min(a, b), max(a, b)) for a, b, _ in pairs}
    recall = len(found & meta["planted"]) / max(1, len(meta["planted"]))
    return out, recall
