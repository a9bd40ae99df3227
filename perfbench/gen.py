"""Seeded inputs and the independent brute-force scorer for the search
workloads.

A catalog is a GDELT-shaped profile set (the column formats of the
reference's gdelt/sample.csv): `article_id`, `;`-delimited `persons`
keyword sets, `yyyyMMddHHmmss` timestamps, longitude/latitude and a
numeric sentiment. A request is a k=5 query over all four attributes
with two weight combinations and fresh query values.

The scorer re-implements the engine's documented semantics from the
generated rows alone (numpy, no Spark): per attribute, distance to the
query value, decay scale k * (k-th smallest distance), similarity
exp(-0.05 d / scale) (disjoint keyword sets score 0), and a weighted
mean rounded to 6 decimals, ranked by score desc then id.
"""
import datetime
import json
import os

import numpy as np

K = 5
COMBOS = 2
DECAY = 0.05
EPOCH_2019 = int(datetime.datetime(2019, 1, 1, tzinfo=datetime.timezone.utc).timestamp())
YEAR_S = 365 * 24 * 3600
FIRST = ["john", "maria", "donald", "angela", "emmanuel", "xi", "narendra", "jacinda",
         "boris", "justin", "vladimir", "recep", "jair", "cyril", "shinzo", "moon",
         "pedro", "ursula", "joe", "kamala", "mike", "nancy", "bernie", "elizabeth",
         "ivanka", "jared", "steve", "tim", "jeff", "mark", "sundar", "satya"]
LAST = ["smith", "trump", "merkel", "macron", "jinping", "modi", "ardern", "johnson",
        "trudeau", "putin", "erdogan", "bolsonaro", "ramaphosa", "abe", "jae-in",
        "sanchez", "leyen", "biden", "harris", "pence", "pelosi", "sanders", "warren",
        "kushner", "mnuchin", "cook", "bezos", "zuckerberg", "pichai", "nadella",
        "lopez", "garcia", "kim", "lee", "chen", "wang", "singh", "kumar", "ali", "khan"]
VOCAB = [f"{f} {l}" for f in FIRST for l in LAST]
# hubs for the spatial attribute: (lon, lat) of a few news centres
HUBS = np.array([(-77.04, 38.90), (-0.13, 51.51), (2.35, 48.86), (13.40, 52.52),
                 (116.40, 39.90), (77.21, 28.61), (-46.63, -23.55), (139.69, 35.69),
                 (-117.02, 32.53), (28.05, -26.20), (37.62, 55.75), (151.21, -33.87)])


def _zipf_tokens(rng, n):
    """Token ids with a heavy head, as person mentions in news have."""
    ranks = rng.zipf(1.3, size=n)
    return np.minimum(ranks - 1, len(VOCAB) - 1)


def _distinct_sets(rng, n, max_len):
    """n distinct token-id sets of 1..max_len tokens, padded with -1."""
    lens = rng.integers(1, max_len + 1, size=n)
    toks = np.full((n, max_len), -1, dtype=np.int64)
    for j in range(max_len):
        draw = _zipf_tokens(rng, n)
        keep = (j < lens) & ~(toks[:, :j] == draw[:, None]).any(axis=1)
        toks[keep, j] = draw[keep]
    return toks


def _stamp(epoch_s):
    return datetime.datetime.fromtimestamp(int(epoch_s), datetime.timezone.utc) \
        .strftime("%Y%m%d%H%M%S")


class Catalog:
    """One tenant's generated entities, kept in memory for the scorer."""

    def __init__(self, rng, n, name):
        self.name = name
        self.n = n
        self.ids = np.array([f"{name}-{i:07d}" for i in range(n)])
        self.persons = _distinct_sets(rng, n, 4)
        self.ts_s = EPOCH_2019 + rng.integers(0, YEAR_S, size=n)
        hub = HUBS[rng.integers(0, len(HUBS), size=n)]
        # integer / 10^d is the double a CSV reader parses from the printed
        # decimal, so the scorer sees exactly the engine's values
        self.lon = np.rint((hub[:, 0] + rng.normal(0, 3.0, size=n)) * 1e5) / 1e5
        self.lat = np.rint(np.clip(hub[:, 1] + rng.normal(0, 2.0, size=n), -89.9, 89.9)
                           * 1e5) / 1e5
        self.sentiment = np.rint(rng.uniform(0.0, 10.0, size=n) * 1e6) / 1e6
        self.id_set = set(self.ids.tolist())

    def write(self, directory):
        """Write `<name>.csv` plus the /index request body; returns
        (csv bytes, sources.json path)."""
        os.makedirs(directory, exist_ok=True)
        csv_path = os.path.join(directory, f"{self.name}.csv")
        with open(csv_path, "w") as f:
            f.write("article_id,persons,timestamp,longitude,latitude,sentiment\n")
            for i in range(self.n):
                persons = ";".join(VOCAB[t] for t in self.persons[i] if t >= 0)
                f.write(f"{self.ids[i]},{persons},{_stamp(self.ts_s[i])},"
                        f"{self.lon[i]:.5f},{self.lat[i]:.5f},{self.sentiment[i]:.6f}\n")
        entry = {"source": self.name, "dataset": f"{self.name}.csv", "key_column": "article_id"}
        sources = {
            "sources": [{"name": self.name, "type": "csv", "directory": os.path.abspath(directory)}],
            "search": [
                dict(entry, operation="categorical_topk", search_column="persons",
                     separator=",", token_delimiter=";", header="true"),
                dict(entry, operation="temporal_topk", search_column="timestamp",
                     separator=",", header="true"),
                dict(entry, operation="spatial_knn", search_column=["longitude", "latitude"],
                     alias_column="position", separator=",", header="true"),
                dict(entry, operation="numerical_topk", search_column="sentiment",
                     separator=",", header="true"),
            ]}
        src_path = os.path.join(directory, f"{self.name}.sources.json")
        with open(src_path, "w") as f:
            json.dump(sources, f)
        return os.path.getsize(csv_path), src_path

    def request(self, rng):
        """A fresh k=5 four-attribute request with two weight combinations."""
        q_tokens = _distinct_sets(rng, 1, 3)[0]
        hub = HUBS[rng.integers(0, len(HUBS))]
        weights = lambda: [f"{w:.1f}" for w in rng.integers(1, 11, size=COMBOS) / 10.0]
        return {
            "k": str(K),
            "algorithm": "threshold",
            "queries": [
                {"column": "persons", "value": [VOCAB[t] for t in q_tokens if t >= 0],
                 "weights": weights()},
                {"column": "timestamp",
                 "value": _stamp(EPOCH_2019 + rng.integers(0, YEAR_S)), "weights": weights()},
                {"column": "position",
                 "value": f"POINT({hub[0] + rng.normal(0, 3.0):.5f} {hub[1] + rng.normal(0, 2.0):.5f})",
                 "weights": weights()},
                {"column": "sentiment", "value": round(float(rng.uniform(0, 10)), 4),
                 "weights": weights()},
            ]}

    # ------------------------------------------------------------ scorer

    def _distances(self, req):
        out = []
        for q in req["queries"]:
            c, v = q["column"], q["value"]
            if c == "persons":
                qset = {VOCAB.index(t) for t in v}
                inter = np.zeros(self.n)
                for t in qset:
                    inter += (self.persons == t).any(axis=1)
                size_a = (self.persons >= 0).sum(axis=1)
                jac = inter / (size_a + len(qset) - inter)
                out.append((1.0 - jac, True))
            elif c == "timestamp":
                dt = datetime.datetime.strptime(v, "%Y%m%d%H%M%S") \
                    .replace(tzinfo=datetime.timezone.utc)
                q_ms = float(int(dt.timestamp()) * 1000)
                out.append((np.abs(self.ts_s.astype(np.float64) * 1000.0 - q_ms), False))
            elif c == "position":
                lon, lat = (float(x) for x in v[v.index("(") + 1:v.index(")")].split())
                dx, dy = self.lon - lon, self.lat - lat
                out.append((np.sqrt(dx * dx + dy * dy), False))
            elif c == "sentiment":
                out.append((np.abs(self.sentiment - float(v)), False))
            else:
                raise ValueError(c)
        return out

    def brute_force(self, req):
        """Per combination: (scores by entity index, order by (score desc, id))."""
        k = int(req["k"])
        sims = []
        for d, jaccard in self._distances(req):
            dk = np.sort(d)[k - 1]
            scale = k * dk if dk > 0 else 1.0
            s = np.exp((-DECAY * d) / scale)
            if jaccard:
                s = np.where(d == 1.0, 0.0, s)
            sims.append(s)
        combos = []
        for c in range(COMBOS):
            ws = [float(q["weights"][c]) for q in req["queries"]]
            num = ws[0] * sims[0]
            for w, s in zip(ws[1:], sims[1:]):
                num = num + w * s
            score = num / sum(ws)
            order = np.lexsort((self.ids, -np.round(score, 6)))
            combos.append((score, order))
        return combos


TOL = 1.5e-6


def check_response(body, req, catalog, brute):
    """(problems, exact results compared) for one /search response body;
    no problems means correct. Structure is always checked; `brute` (from
    Catalog.brute_force) adds the exactness check of every result flagged
    exact=true. A re-scored block whose rank-1 result is not flagged exact
    is a problem too, so the check cannot pass by comparing nothing."""
    try:
        blocks = json.loads(body)
    except ValueError as e:
        return [f"unparseable body: {e}"], 0
    k = int(req["k"])
    if not isinstance(blocks, list) or len(blocks) != COMBOS:
        return [f"expected {COMBOS} blocks, got {body[:200]}"], 0
    problems = []
    compared = 0
    index = None
    for c, block in enumerate(blocks):
        res = block.get("rankedResults") if isinstance(block, dict) else None
        if not isinstance(res, list) or len(res) > k or not res:
            problems.append(f"combo {c}: bad rankedResults")
            continue
        if [r.get("rank") for r in res] != list(range(1, len(res) + 1)):
            problems.append(f"combo {c}: ranks not 1..n")
        scores = [r.get("score") for r in res]
        if any(not isinstance(s, (int, float)) for s in scores) or \
                any(a < b for a, b in zip(scores, scores[1:])):
            problems.append(f"combo {c}: scores not non-increasing")
            continue
        if any(r.get("id") not in catalog.id_set for r in res):
            problems.append(f"combo {c}: unknown id")
            continue
        if brute is None:
            continue
        if res[0].get("exact") is not True:
            problems.append(f"combo {c}: rank-1 result not flagged exact, nothing to re-score")
            continue
        if index is None:
            index = {v: i for i, v in enumerate(catalog.ids.tolist())}
        score, order = brute[c]
        for r in res:
            if r.get("exact") is not True:
                continue
            compared += 1
            mine = score[index[r["id"]]]
            truth = score[order[r["rank"] - 1]]
            if abs(mine - r["score"]) > TOL or abs(truth - r["score"]) > TOL:
                problems.append(f"combo {c} rank {r['rank']}: exact result {r['id']} "
                                f"scored {r['score']}, brute force {mine:.6f}, "
                                f"true rank score {truth:.6f}")
    return problems, compared
