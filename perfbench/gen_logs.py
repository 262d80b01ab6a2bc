"""Seeded generator of BlueCoat-proxy-shaped log text for the miw workload.

Lines have the 24 space-delimited fields of the BlueCoat default access
log (date time time-taken c-ip sc-status s-action sc-bytes cs-bytes
cs-method cs-uri-scheme cs-host cs-uri-port cs-uri-path cs-uri-query
cs-username cs-auth-group s-supplier-name rs(Content-Type) cs(Referer)
cs(User-Agent) sc-filter-result cs-categories x-virus-id s-ip), with a
double-quoted User-Agent that holds spaces, plus a share of `#` comment
lines and blank lines. Data lines draw their (hour, cs-username) group
key from 24 hours x 300 users on one day. The same (seed, lines) always
gives the same bytes.

Besides the file, `generate` returns the tallies the output checks
compare against: line counts, bytes, distinct group keys and the sums of
the numeric fields the format aggregates.

Usage: python3 gen_logs.py <seed> <lines> <out.log>
"""
import hashlib
import json
import random
import sys

FIELDS = (
    "date time time-taken c-ip sc-status s-action sc-bytes cs-bytes "
    "cs-method cs-uri-scheme cs-host cs-uri-port cs-uri-path cs-uri-query "
    "cs-username cs-auth-group s-supplier-name rs(Content-Type) cs(Referer) "
    "cs(User-Agent) sc-filter-result cs-categories x-virus-id s-ip").split()

USER_AGENTS = [
    '"Mozilla/5.0 (X11; Linux x86_64)"',
    '"Mozilla/5.0 (Windows NT 10.0; Win64; x64)"',
    '"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7)"',
    '"curl/7.68.0"',
    '"Microsoft-CryptoAPI/10.0"',
]
STATUSES = ["200"] * 6 + ["304", "302", "404", "403", "500"]
ACTIONS = ["TCP_HIT", "TCP_MISS", "TCP_NC_MISS", "TCP_DENIED", "TCP_TUNNELED"]
METHODS = ["GET"] * 5 + ["POST", "CONNECT", "HEAD"]
CTYPES = ["text/html", "image/png", "application/json", "text/css", "-"]
FILTER_RESULTS = ["OBSERVED"] * 4 + ["PROXIED", "DENIED"]
CATEGORIES = ["News", "Technology", "Business", "Search-Engines",
              "Social-Networking", "Web-Ads", "Unavailable"]
VIRUS_IDS = ["-"] * 30 + ["EICAR-Test-File"]

# Share of non-data lines, in per-mille of all lines.
COMMENT_PERMILLE = 15
BLANK_PERMILLE = 5

USERS = [f"user{u:04d}" for u in range(300)]


def _ips(rng, n):
    return sorted({f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
                   for _ in range(n * 2)})[:n]


def generate(path, seed, lines):
    """Writes `lines` lines of log text to `path`; returns the tallies."""
    rng = random.Random(f"summary:{seed}")
    keys = [(h, u) for h in range(24) for u in USERS]
    ips = _ips(rng, 4000)
    hosts = [f"www.site{h:03d}.example" for h in range(400)]
    paths = [f"/p{p:04d}/index.html" for p in range(1500)]

    kinds = rng.choices(range(1000), k=lines)
    picks = rng.choices(keys, k=lines)
    minutes = rng.choices(range(60), k=lines)
    seconds = rng.choices(range(60), k=lines)
    taken = [rng.randrange(1, 5000) for _ in range(lines)]
    sc_bytes = [int(rng.expovariate(1 / 6000)) for _ in range(lines)]
    cs_bytes = [rng.randrange(100, 3000) for _ in range(lines)]
    status = rng.choices(STATUSES, k=lines)
    action = rng.choices(ACTIONS, k=lines)
    method = rng.choices(METHODS, k=lines)
    agent = rng.choices(USER_AGENTS, k=lines)
    ctype = rng.choices(CTYPES, k=lines)
    fres = rng.choices(FILTER_RESULTS, k=lines)
    cat = rng.choices(CATEGORIES, k=lines)
    virus = rng.choices(VIRUS_IDS, k=lines)
    ip = rng.choices(ips, k=lines)
    host = rng.choices(hosts, k=lines)
    path_ = rng.choices(paths, k=lines)

    seen = set()
    t = {"lines": lines, "comment_lines": 0, "blank_lines": 0, "data_lines": 0,
         "sum_time_taken": 0, "sum_sc_bytes": 0, "sum_cs_bytes": 0}
    out = []
    header = "#Fields: " + " ".join(FIELDS)
    for i in range(lines):
        k = kinds[i]
        if k < COMMENT_PERMILLE:
            out.append(header if k % 3 == 0 else f"#Remark: rotated segment {i}")
            t["comment_lines"] += 1
            continue
        if k < COMMENT_PERMILLE + BLANK_PERMILLE:
            out.append("" if k % 2 else "   ")
            t["blank_lines"] += 1
            continue
        hour, user = picks[i]
        seen.add(picks[i])
        t["data_lines"] += 1
        t["sum_time_taken"] += taken[i]
        t["sum_sc_bytes"] += sc_bytes[i]
        t["sum_cs_bytes"] += cs_bytes[i]
        scheme, port = ("https", "443") if method[i] == "CONNECT" else ("http", "80")
        out.append(" ".join((
            "2015-03-02", f"{hour:02d}:{minutes[i]:02d}:{seconds[i]:02d}",
            str(taken[i]), ip[i], status[i], action[i], str(sc_bytes[i]),
            str(cs_bytes[i]), method[i], scheme, host[i], port, path_[i], "-", user,
            "grp", "sup", ctype[i], "-", agent[i], fres[i], cat[i], virus[i],
            "10.0.0.1")))
    data = ("\n".join(out) + "\n").encode("ascii")
    with open(path, "wb") as f:
        f.write(data)
    t["bytes"] = len(data)
    t["groups"] = len(seen)
    t["sha256"] = hashlib.sha256(data).hexdigest()
    return t


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[3], int(sys.argv[1]), int(sys.argv[2]))))
