"""Seeded generator of Yelp-shaped JSON-lines inputs.

Writes business.json, review.json and user.json whose fields match the
pinned `graft.yelp.Schemas` structs, with the edge cases the master
pipeline has branches for:

* nested `attributes` and `hours` structs (some null, some partial);
* a planted share of exact-duplicate review rows (dedup exchange);
* reviews whose user is missing from user.json (inner-join drop);
* null categories and categories with no super-category keyword;
* the "Unknown" state quirk and state codes with no mapping;
* review dates spread over 2005-2022 (18 years).

The same (seed, n_reviews) always yields the same bytes; `manifest()`
records row counts, shares and a sha256 per file so a run can prove it.

    python3 perfbench/gen.py OUT_DIR --seed 7 --reviews 20000
"""
import argparse
import hashlib
import json
import os
import random

BUSINESS_PER_REVIEW = 0.05   # 50k businesses per 1M reviews
USERS_PER_REVIEW = 0.2       # 200k users per 1M reviews
DUP_SHARE = 0.015            # review rows that repeat an earlier row exactly
ORPHAN_SHARE = 0.005         # review rows whose user_id is not in user.json
FIRST_YEAR, LAST_YEAR = 2005, 2022
RECENT = 512
STARS, STAR_WEIGHTS = [1, 2, 3, 4, 5], [12, 8, 11, 26, 43]

# Category strings: keyword hits, the first-match order case
# ("Food Trucks, Bars" is Restaurants, not Nightlife), and no-keyword
# strings that fall through to "Other". None is a JSON null.
CATEGORIES = [
    "Restaurants, Mexican", "Food Trucks, Bars", "Shopping, Fashion",
    "Bars, Nightlife", "Hair Salons, Beauty & Spas", "Dentists",
    "Auto Repair, Automotive", "Gyms, Yoga", "Plumbing, Home Services",
    "Tutoring Centers", "Pet Stores, Veterinarians", "Coffee & Tea, Food",
    "Notaries", "Quantum Widgets", None,
]
# Mapped codes, the "Unknown" quirk, and codes passed through unmapped.
STATES = ["CA", "TX", "FL", "PA", "AZ", "NV", "IN", "TN", "MO", "LA",
          "NJ", "AB", "Unknown", "ZZ", "ON"]
CITIES = [f"City {i}" for i in range(60)]
WIFI = ["u'free'", "u'no'", "'paid'", None]
DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
        "Saturday", "Sunday"]
WORDS = ("the food service was great good bad slow friendly staff price "
         "table order wait menu taste fresh place love never again best "
         "worst dinner lunch coffee parking clean dirty manager quick "
         "recommend amazing awful cheap expensive portion spicy sweet "
         "music loud quiet patio drinks bar beer wine dessert").split()
ID_ALPHABET = ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
               "0123456789-_")
FILES = ("business.json", "review.json", "user.json")


def _ids(rng, n, prefix):
    """n distinct 22-character Yelp-style ids."""
    out, seen = [], set()
    while len(out) < n:
        s = prefix + "".join(rng.choices(ID_ALPHABET, k=22 - len(prefix)))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _date(rng):
    y = rng.randint(FIRST_YEAR, LAST_YEAR)
    return (f"{y:04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
            f"{rng.randint(0, 59):02d}")


def _dump(f, obj):
    f.write(json.dumps(obj, separators=(",", ":")))
    f.write("\n")


def generate(out_dir, seed, n_reviews):
    """Write the three files under out_dir and return the manifest."""
    rng = random.Random(seed)
    n_biz = max(1, int(n_reviews * BUSINESS_PER_REVIEW))
    n_users = max(1, int(n_reviews * USERS_PER_REVIEW))
    os.makedirs(out_dir, exist_ok=True)
    biz_ids = _ids(rng, n_biz, "b")
    user_ids = _ids(rng, n_users, "u")
    orphan_ids = _ids(rng, max(1, n_users // 50), "x")

    with open(os.path.join(out_dir, "business.json"), "w") as f:
        for i, bid in enumerate(biz_ids):
            attrs = None if rng.random() < 0.1 else {
                "WiFi": rng.choice(WIFI),
                "BusinessParking": rng.choice(
                    ["{'garage': False, 'street': True}", None]),
                "OutdoorSeating": rng.choice(["True", "False", None])}
            hours = None if rng.random() < 0.15 else {
                d: f"{rng.randint(6, 11)}:0-{rng.randint(17, 23)}:0"
                for d in DAYS if rng.random() < 0.85}
            _dump(f, {
                "business_id": bid, "name": f"Biz {i % 997} {bid[1:5]}",
                "address": f"{rng.randint(1, 9999)} Main St",
                "city": rng.choice(CITIES), "state": rng.choice(STATES),
                "postal_code": f"{rng.randint(10000, 99999)}",
                "latitude": round(rng.uniform(25, 49), 6),
                "longitude": round(rng.uniform(-124, -70), 6),
                "stars": rng.randint(2, 10) / 2.0,
                "review_count": rng.randint(5, 500),
                "is_open": rng.randint(0, 1), "attributes": attrs,
                "categories": rng.choice(CATEGORIES), "hours": hours})

    with open(os.path.join(out_dir, "user.json"), "w") as f:
        for i, uid in enumerate(user_ids):
            _dump(f, {
                "user_id": uid, "name": f"User{i % 5003}",
                "review_count": rng.randint(0, 800),
                "yelping_since": _date(rng),
                "useful": rng.randint(0, 300), "funny": rng.randint(0, 100),
                "cool": rng.randint(0, 150), "fans": rng.randint(0, 60),
                "average_stars": round(rng.uniform(1, 5), 2)})

    n_dup = int(n_reviews * DUP_SHARE)
    n_orphan = 0
    review_ids = _ids(rng, n_reviews - n_dup, "r")
    dup_slots = set(rng.sample(range(1, n_reviews), n_dup))
    recent = []  # duplicates copy one of the last RECENT lines
    with open(os.path.join(out_dir, "review.json"), "w") as f:
        k = 0
        for i in range(n_reviews):
            if i in dup_slots:
                line = rng.choice(recent)
            else:
                if rng.random() < ORPHAN_SHARE:
                    uid = rng.choice(orphan_ids)
                    n_orphan += 1
                else:
                    uid = user_ids[rng.randrange(n_users)]
                # a popular head of businesses plus a uniform tail
                if rng.random() < 0.3:
                    bi = min(n_biz, int(rng.paretovariate(1.2))) - 1
                else:
                    bi = rng.randrange(n_biz)
                line = json.dumps({
                    "review_id": review_ids[k], "user_id": uid,
                    "business_id": biz_ids[bi],
                    "stars": float(rng.choices(STARS, STAR_WEIGHTS)[0]),
                    "useful": rng.randint(0, 20), "funny": rng.randint(0, 8),
                    "cool": rng.randint(0, 10),
                    "text": " ".join(rng.choices(
                        WORDS, k=rng.randint(8, 160))).capitalize() + ".",
                    "date": _date(rng)}, separators=(",", ":"))
                k += 1
                recent.append(line)
                if len(recent) > RECENT:
                    recent.pop(0)
            f.write(line)
            f.write("\n")

    man = manifest(out_dir)
    man.update({"seed": seed, "reviews": n_reviews, "businesses": n_biz,
                "users": n_users, "duplicate_reviews": n_dup,
                "orphan_reviews": n_orphan,
                "duplicate_share": DUP_SHARE, "orphan_share": ORPHAN_SHARE,
                "years": [FIRST_YEAR, LAST_YEAR]})
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    return man


def manifest(out_dir):
    """sha256 and byte count of each generated file."""
    files = {}
    for name in FILES:
        h = hashlib.sha256()
        with open(os.path.join(out_dir, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        files[name] = {"sha256": h.hexdigest(),
                       "bytes": os.path.getsize(os.path.join(out_dir, name))}
    return {"files": files,
            "input_bytes": sum(v["bytes"] for v in files.values())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--reviews", type=int, required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, a.reviews), sort_keys=True))


if __name__ == "__main__":
    main()
