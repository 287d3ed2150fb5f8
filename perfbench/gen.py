"""Seeded agmarknet-shaped CSV pages for the ``ingest`` workload.

``make_pages`` writes the pages from the run's ``--seed`` and returns what a
correct landing must contain: per page set, the rows that survive the
validity filter and the natural-key dedup, and the sum of their modal
prices in paise.
"""
import csv
import datetime
import os
import re

import numpy as np


HEADER = ["State", "District", "Market", "Commodity", "Variety", "Grade",
          "Arrival_Date", "Min_Price", "Max_Price", "Modal_Price", "Commodity_Code"]
GRADES = ["FAQ", "Large", "Local", "Medium", "Small"]
N_COMMODITIES = 316
_CROPS = ("Apple Banana Bhindi Brinjal Cabbage Carrot Cauliflower Chilli Coriander "
          "Cotton Garlic Ginger Gram Groundnut Guava Jowar Lemon Maize Mango Methi "
          "Moath Onion Paddy Papaya Peas Potato Pumpkin Radish Ragi Soyabean Tomato "
          "Turmeric Wheat Arhar Bajra Coconut").split()
_KINDS = ["", " Dal", " Seed", "(Ladies Finger)", " Green", " Dry", " Red", " Local", " Hybrid"]


def commodities():
    """316 commodity names whose safe_name partition keys are distinct."""
    names = [c + k for k in _KINDS for c in _CROPS]
    return names[:N_COMMODITIES]


def safe_name(s):
    """The reference ingester's partition-key normalization (ASCII inputs)."""
    s = re.sub(r"[^\w\s-]", "", s.strip().lower())
    return re.sub(r"\s+", "_", s)


def _price_text(v, as_float):
    """Prices arrive as "250" or "250.0", as in the harvested corpus."""
    return f"{v}.0" if as_float else str(v)


DUP_SHARE = 0.06      # at-least-once redeliveries the dedup must remove
INVALID_SHARE = 0.01  # rows with no modal price, dropped as invalid


def make_pages(out_dir, seed, n_sets, pages_per_set=8, rows_per_page=1000):
    """Write ``n_sets`` x ``pages_per_set`` CSV pages into ``out_dir``.

    Page ``p`` of set ``s`` is ``sSS_pPP.csv``. Returns, per set name, the
    landing a correct pipeline must produce: the valid rows and their
    modal-price sum in paise (the stream lands every valid row), and the
    distinct natural keys after dedup with the sum of the kept (lowest)
    modal prices (the batch landing).
    """
    rng = np.random.default_rng(seed)
    names = commodities()
    # Zipf-like skew over the 316 keys: a few commodities dominate.
    w = 1.0 / np.arange(1, N_COMMODITIES + 1) ** 1.1
    w /= w.sum()
    states = [f"State{i:02d}" for i in range(33)]
    markets = ["Binny Mill (F&V), Bangalore", "Azadpur, Delhi", "Vashi APMC, Mumbai",
               "Koyambedu, Chennai"] + [f"Market {i}" for i in range(60)]
    varieties = ["Other", "Local", "Hybrid", "Desi"]
    os.makedirs(out_dir, exist_ok=True)
    sets = {}
    for s in range(n_sets):
        kept = {}
        valid = valid_paise = 0
        for p in range(pages_per_set):
            n = rows_per_page
            fresh = {
                "State": rng.integers(0, 33, n), "District": rng.integers(0, 200, n),
                "Market": rng.integers(0, len(markets), n),
                "Commodity": rng.choice(N_COMMODITIES, n, p=w),
                "Variety": rng.integers(0, 4, n), "Grade": rng.integers(0, 5, n),
                "day": rng.integers(0, 1500, n), "iso": rng.random(n) < 0.3,
                "min": rng.integers(200, 8000, n), "spread": rng.integers(0, 2000, n),
                "modal": rng.integers(0, 1000, n), "invalid": rng.random(n) < INVALID_SHARE,
                "code": rng.integers(1, 400, n), "dup": rng.random(n) < DUP_SHARE,
                "pick": rng.random(n), "bump": rng.integers(0, 3, n),
                "text": rng.random((n, 3)) < 0.5}
            rows = []
            for i in range(n):
                if rows and fresh["dup"][i]:
                    # at-least-once redelivery: the same natural key, the
                    # other date rendering, maybe a higher price
                    r = dict(rows[int(fresh["pick"][i] * len(rows))])
                    if r["modal"] is not None:
                        r["modal"] += 10 * int(fresh["bump"][i])
                    r["iso"] = not r["iso"]
                else:
                    lo = int(fresh["min"][i])
                    r = {"key": (states[fresh["State"][i]], f"District{fresh['District'][i]:03d}",
                                 markets[fresh["Market"][i]], names[fresh["Commodity"][i]],
                                 varieties[fresh["Variety"][i]], GRADES[fresh["Grade"][i]]),
                         "day": datetime.date(2019, 1, 1) + datetime.timedelta(days=int(fresh["day"][i])),
                         "iso": bool(fresh["iso"][i]), "min": lo, "max": lo + int(fresh["spread"][i]),
                         "modal": None if fresh["invalid"][i] else lo + int(fresh["modal"][i]),
                         "code": str(fresh["code"][i])}
                r["text"] = fresh["text"][i]
                rows.append(r)
            with open(os.path.join(out_dir, f"s{s:02d}_p{p:02d}.csv"), "w", newline="") as f:
                out = csv.writer(f)
                out.writerow(HEADER)
                for r in rows:
                    d, (t_min, t_max, t_modal) = r["day"], r["text"]
                    date = d.isoformat() if r["iso"] else f"{d.day:02d}/{d.month:02d}/{d.year}"
                    modal = "" if r["modal"] is None else _price_text(r["modal"], t_modal)
                    out.writerow(list(r["key"]) + [date, _price_text(r["min"], t_min),
                                                  _price_text(r["max"], t_max), modal, r["code"]])
                    if r["modal"] is None:
                        continue
                    valid += 1
                    valid_paise += 100 * r["modal"]
                    key = r["key"] + (d,)
                    cand = (r["modal"], r["min"])
                    if key not in kept or cand < kept[key]:
                        kept[key] = cand
        sets[f"s{s:02d}"] = {"valid_rows": valid, "valid_modal_paise": valid_paise,
                             "dedup_rows": len(kept),
                             "dedup_modal_paise": 100 * sum(m for m, _ in kept.values())}
    return sets
