"""Seeded input generator for the benchmark.

Two families, both written as parquet with the column types the graft
readers expect:

* ``tables(out_dir, seed, sf)`` -- the TPC-H-ish star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables that the query
  registries read, with the schemas, categorical vocabularies and value
  ranges of the test tables described in FIXTURES.md §B, and row counts
  proportional to ``sf`` (sf 0.1 = 600k lineitem rows).
* ``olympic(out_dir, seed, athletes)`` -- bronze Olympic inputs in the
  reference scraper's string grammar (biodata, results, editions and the
  ISO lookup CSV), with a known number of violations of each
  ``OlympicRules`` rule injected. It returns the counts the pipeline's
  outputs must have.

The same seed always produces byte-identical inputs.
"""
import csv
import random
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000, pa.timestamp("ms"))


def tables(out_dir, seed, sf, only=None):
    """Writes the ten query tables (or those named in `only`); returns
    {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = max(15, int(15_000 * sf)), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}

    def emit(name, cols):
        if only is not None and name not in only:
            return
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        out[name] = t.num_rows

    emit("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    emit("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    emit("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    emit("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("blue old small new hot large cold red".split())
    noun = np.array("widget gizmo bolt plate anvil rod ring gear".split())
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    pk = np.arange(n_part)
    emit("part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    emit("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    emit("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01", "ns").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**9, n_events))
    emit("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(np.maximum(rng.exponential(50.0, n_events), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    # documents: word soup over the shared vocabulary; 5% are a copy of an
    # earlier document with a " dup" suffix (the near-duplicate structure
    # the dedup family mines)
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    emit("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.normal(0, 1, (n_vecs, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emit("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return out


# ---------------------------------------------------------------- Olympic

COUNTRIES = [  # (ISO English short name, alpha-2, alpha-3)
    ("Germany", "DE", "DEU"), ("Russian Federation", "RU", "RUS"),
    ("United Kingdom", "GB", "GBR"), ("Korea, Republic of", "KR", "KOR"),
    ("France", "FR", "FRA"), ("Italy", "IT", "ITA"), ("Spain", "ES", "ESP"),
    ("Japan", "JP", "JPN"), ("China", "CN", "CHN"), ("Brazil", "BR", "BRA"),
    ("Canada", "CA", "CAN"), ("Australia", "AU", "AUS"), ("Kenya", "KE", "KEN"),
    ("Norway", "NO", "NOR"), ("Sweden", "SE", "SWE"), ("Finland", "FI", "FIN"),
    ("Hungary", "HU", "HUN"), ("Poland", "PL", "POL"), ("Mexico", "MX", "MEX"),
    ("Argentina", "AR", "ARG"), ("Egypt", "EG", "EGY"), ("India", "IN", "IND"),
    ("Netherlands", "NL", "NLD"), ("Greece", "GR", "GRC"), ("Armenia", "AM", "ARM"),
    ("Jamaica", "JM", "JAM"), ("Cuba", "CU", "CUB"), ("Romania", "RO", "ROU"),
    ("Ukraine", "UA", "UKR"), ("New Zealand", "NZ", "NZL"),
]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
FIRST = ("Anna Ivan Maria Jose Li Wei Kenji Olga Pierre Sofia Lars Aiko Mehmet "
         "Tigran Yevgeniya Carlos Emma Noah Ines Pavel").split()
LAST = ("Smith Ivanova Garcia Rossi Muller Tanaka Chen Kowalski Nagy Silva "
        "Martirosyan Kosetskaya Dubois Larsen Okafor Novak Haddad Berg").split()
CITIES = ("Chelyabinsk Seoul Lyon Milano Osaka Nairobi Bergen Turku Szeged Poznan "
          "Monterrey Cordoba Alexandria Pune Utrecht Patras Gyumri Kingston").split()
REGIONS = ("Chelyabinsk Gyeonggi Rhone Lombardia Kansai Nairobi Vestland Pirkanmaa "
           "Csongrad Wielkopolska").split()
DISCIPLINES = [f"{d} ({s})" for d, s in [
    ("Artistic Gymnastics", "Gymnastics"), ("Athletics", "Athletics"),
    ("Swimming", "Aquatics"), ("Diving", "Aquatics"), ("Rowing", "Rowing"),
    ("Hockey", "Hockey"), ("Fencing", "Fencing"), ("Boxing", "Boxing"),
    ("Wrestling", "Wrestling"), ("Cycling Road", "Cycling"),
    ("Alpine Skiing", "Skiing"), ("Biathlon", "Biathlon"), ("Judo", "Judo"),
    ("Sailing", "Sailing"), ("Shooting", "Shooting"), ("Weightlifting", "Weightlifting")]]
EVENTS = ["Men (Olympic)", "Women (Olympic)", "100 metres, Men", "Team, Women",
          "Individual, Men", "Doubles, Mixed"]
# one violation count per rule; every injected row breaks exactly one rule
INJECT = {
    "bios": {"athlete_id_min": 3, "sex_enum": 5, "height_range": 4, "weight_range": 6,
             "died_after_born": 7, "bmi_sane": 8, "born_country_len3": 9},
    "results": {"medal_enum": 4, "position_min": 6, "year_range": 5,
                "medal_position_consistent": 7},
    "editions": {"opened_before_closed": 1, "competition_ordered": 2, "year_range": 1},
}


def _date_text(rng, y0, y1):
    y = rng.randrange(y0, y1)
    return f"{rng.randrange(1, 29)} {MONTHS[rng.randrange(0, 12)]} {y}", y


def _place(rng, code):
    return f"in {rng.choice(CITIES)}, {rng.choice(REGIONS)} ({code})"


def _editions(rng):
    """76 editions: one Ancient Games row (filtered by the pipeline), the
    rest Summer/Winter/Youth/Intercalated games 1896-2022."""
    rows = [["0", "-776", "Olympia", "GRC", None, None, None, None,
             "Ancient Olympic Games", ""]]
    years = list(range(1896, 2024, 4))[:32] + list(range(1924, 2024, 4))[:25] + \
        list(range(1906, 1910))[:1] + list(range(2010, 2024, 2))[:7] + \
        list(range(1900, 2024, 12))[:10]
    kinds = ["Summer"] * 32 + ["Winter"] * 25 + ["Intercalated"] + ["Youth"] * 7 + ["Equestrian"] * 10
    bad = ["opened_before_closed"] * INJECT["editions"]["opened_before_closed"] + \
        ["competition_ordered"] * INJECT["editions"]["competition_ordered"] + \
        ["year_range"] * INJECT["editions"]["year_range"]
    for i, (y, kind) in enumerate(zip(years, kinds)):
        rule = bad[i] if i < len(bad) else None
        if rule == "year_range":
            y = 1800
        game_type = "Olympic Games" if kind != "Youth" else "Youth Olympic Games"
        if kind == "Intercalated":
            game_type = "Intercalated Games"
        m = MONTHS[rng.randrange(0, 11)]
        d0 = rng.randrange(1, 10)
        d1 = d0 + rng.randrange(8, 18)
        opened, closed = f"{d0} {m}", f"{d1} {m}"
        comp = f"{d0} – {d1} {m}"
        if rule == "opened_before_closed":
            opened, closed = closed, opened
        elif rule == "competition_ordered":
            comp = f"{d1} – {d0} {m}"
        elif i % 9 == 5:  # the imputation case: no Opened, Competition set
            opened = None
        rows.append([str(i + 1), str(y), CITIES[i % len(CITIES)],
                     COUNTRIES[i % len(COUNTRIES)][2], opened, closed, comp,
                     "Not held due to war" if i % 17 == 3 else None, game_type,
                     kind if kind in ("Summer", "Winter", "Equestrian") else ""])
    names = ["#", "Year", "City", "Country", "Opened", "Closed", "Competition",
             "Unnamed: 7", "Game_Type", "Edition_Name"]
    return pa.table({n: [r[k] for r in rows] for k, n in enumerate(names)}), len(rows)


def olympic(out_dir, seed, athletes):
    """Writes bronze biodata/results/editions parquet + iso_codes.csv and
    returns the expected output counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    pick = rng.choice
    clubs = [f"{c} {k}" for c in ("Dynamo", "Olimpia", "Sporting", "Union", "Athletic",
                                  "Samsung Life Sports Club", "Racing", "Spartak")
             for k in ("", "I", "II", "Central", "North")]
    affs = []
    for c in clubs:
        code = pick(COUNTRIES)[2]
        affs.append(f"{c.strip()}, {pick(CITIES)} ({code})")
        affs.append(f"{c.strip()}, ({code})")  # bare "(XYZ)" city-code case
    bio_bad = [r for r, k in INJECT["bios"].items() for _ in range(k)]
    ids, cols = [], {n: [] for n in (
        "Roles", "Sex", "Used name", "Born", "Died", "Measurements", "Affiliations",
        "NOC", "Full name", "Title(s)", "Nationality", "Other names", "Original name",
        "Name order", "Nick/petnames")}
    bridge, aff_used = set(), set()
    for i in range(athletes):
        rule = bio_bad[i] if i < len(bio_bad) else None
        aid = i + 1 if rule != "athlete_id_min" else -i
        first, last = pick(FIRST), pick(LAST)
        country = pick(COUNTRIES)
        sex = "Female" if rng.random() < 0.4 else "Male"
        born, y = _date_text(rng, 1900, 2005)
        r = rng.random()
        if r < 0.6:
            born = f"{born} {_place(rng, country[2])}"
        elif r < 0.7:
            born = str(y)
        died = None
        if rng.random() < 0.1:
            died = f"{_date_text(rng, y + 20, y + 90)[0]} {_place(rng, country[2])}"
        h = rng.randrange(155, 206)
        w = int(round(rng.uniform(18, 32) * (h / 100) ** 2))
        r = rng.random()
        meas = f"{h} cm / {w} kg"
        if r < 0.1:
            meas = f"{rng.randrange(165, 196)} cm"
        elif r < 0.2:
            meas = f"{rng.randrange(60, 91)} kg"
        elif r < 0.3:
            meas = None
        if rule == "sex_enum":
            sex = "Unknown"
        if rule is not None:
            died = None  # an injected row breaks its own rule and no other
            meas = {"height_range": "255 cm / 150 kg", "weight_range": "110 cm / 20 kg",
                    "bmi_sane": "200 cm / 40 kg"}.get(rule, "180 cm / 75 kg")
        if rule == "died_after_born":
            born, died = f"16 December 1994 {_place(rng, country[2])}", "1 January 1990"
        if rule == "born_country_len3":
            born = f"3 March 1980 {_place(rng, country[2] + 'X')}"
        aff = None
        if rng.random() < 0.7:
            chosen = sorted({pick(affs) for _ in range(rng.randrange(1, 3))})
            aff = " / ".join(chosen)
            aff_used.update(chosen)
            bridge.update((aid, a) for a in chosen)
        ids.append(aid)
        name = f"{first}•{last}"
        for k, v in (("Roles", "Competed in Olympic Games" + (" • Coach" if rng.random() < 0.1 else "")),
                     ("Sex", sex), ("Used name", name), ("Born", born), ("Died", died),
                     ("Measurements", meas), ("Affiliations", aff), ("NOC", country[0]),
                     ("Full name", f"{first} {last}"), ("Title(s)", None), ("Nationality", None),
                     ("Other names", None), ("Original name", None), ("Name order", None),
                     ("Nick/petnames", None)):
            cols[k].append(v)
    biodata = pa.table({"Athlete_Id": pa.array(ids, pa.int32()), **cols})
    _write(biodata, os.path.join(out_dir, "biodata.parquet"))

    n_results = 2 * athletes
    res_bad = [r for r, k in INJECT["results"].items() for _ in range(k)]
    years = list(range(1896, 2024, 4))
    rc = {n: [] for n in ("Games", "NOC", "Discipline", "As", "Event", "Team", "Pos",
                          "Medal", "Nationality", "Unnamed: 7")}
    rid = [rng.randrange(1, athletes + 1) for _ in range(n_results)]
    for i in range(n_results):
        rule = res_bad[i] if i < len(res_bad) else None
        g = f"{pick(years)} {'Summer' if rng.random() < 0.7 else 'Winter'} Olympics"
        p = rng.randrange(1, 60)
        pos, medal = str(p), {1: "Gold", 2: "Silver", 3: "Bronze"}.get(p)
        r = rng.random()
        if r < 0.03:
            pos, medal = pick(["DNS", "AC", "DNF"]), None
        elif r < 0.06:
            pos = f"={p}"
        if rule == "medal_enum":
            pos, medal = "=5", "Platinum"
        elif rule == "position_min":
            pos, medal = "0", None
        elif rule == "year_range":
            g, pos, medal = "1800 Summer Olympics", "7", None
        elif rule == "medal_position_consistent":
            pos, medal = "4", "Gold"
        c = pick(COUNTRIES)
        for k, v in (("Games", g), ("NOC", c[2]), ("Discipline", pick(DISCIPLINES)),
                     ("As", f"{pick(FIRST)} {pick(LAST)}"), ("Event", pick(EVENTS)),
                     ("Team", c[0] if rng.random() < 0.8 else None), ("Pos", pos),
                     ("Medal", medal), ("Nationality", None), ("Unnamed: 7", None)):
            rc[k].append(v)
    results = pa.table({"Athlete_Id": pa.array(rid, pa.int32()), **rc})
    _write(results, os.path.join(out_dir, "results.parquet"))

    editions, n_editions = _editions(rng)
    _write(editions, os.path.join(out_dir, "editions.parquet"))
    with open(os.path.join(out_dir, "iso_codes.csv"), "w", newline="") as f:
        wr = csv.writer(f)
        wr.writerow(["English short name lower case", "Alpha-2 code", "Alpha-3 code",
                     "Numeric code", "ISO 3166-2"])
        for k, (name, a2, a3) in enumerate(COUNTRIES):
            wr.writerow([name, a2, a3, str(100 + k), f"ISO 3166-2:{a2}"])
    return {
        "rows": {"dim_athletes": athletes, "fct_results": n_results,
                 "dim_games": n_editions - 1, "dim_affiliations": len(aff_used),
                 "bridge_athletes_affiliations": len(bridge)},
        "failure_cases": {f"failure_cases_{t}": rules for t, rules in INJECT.items()},
    }
