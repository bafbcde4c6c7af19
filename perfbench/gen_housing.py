"""Seeded generator for the `housing` workload: 11 daily archives of
Trulia-shaped listing pages, plus the cleaned rows the engine must
produce from them (so the check needs no engine code).

Each page is one apartment complex with a floor-plan table of many
rows. Prices follow a stated formula:

    price = 250 + 1.0*sqft + 120*bed + 60*bath
            + sum(AMENITY_BONUS[a] for a in the page's amenities)
            + ZIP_OFFSET[zip] + N(0, NOISE_SD), rounded to whole dollars
            and floored at PRICE_FLOOR

The edge rows of the fixture schema appear at fixed shares: sqft
ranges, empty sqft (dropped), thousands separators, price ranges
(dropped), `Contact` prices (kept, null price), `$1,050+` prices,
`Studio` and empty bed (both 0), half baths, and a leading-zero zip.
Some pages are malformed and must yield zero rows.

    python3 gen_housing.py OUT_DIR SEED
"""
import datetime
import json
import os
import random
import statistics
import sys

DAYS = 11
PAGES_PER_DAY = 50
ROWS_PER_PAGE = (16, 30)          # floor-plan rows per page, uniform
MALFORMED_SHARE = 0.04
NOISE_SD = 240.0
PRICE_FLOOR = 100
FIRST_DAY = datetime.date(2020, 1, 29)
FORMULA = {"intercept": 250, "sqft": 1.0, "bed": 120, "bath": 60}
R2_MARGIN = 0.05      # the engine's per-pass floor: formula R^2 minus this

# (city, state, zip, price offset); 01801 is the leading-zero case
ZIPS = [("Austin", "TX", z, off) for z, off in [
    ("78701", 420), ("78702", 180), ("78703", 380), ("78704", 300),
    ("78705", 150), ("78723", -40), ("78741", -80), ("78745", 20),
    ("78748", 10), ("78750", 90), ("78753", -120), ("78758", -60)]] + [
    ("Woburn", "MA", "01801", 260)]
# amenity keyword text as it appears in the listing's feature list;
# the flag names in the engine are these with spaces as underscores
AMENITY_BONUS = {
    "cats": 15, "small dogs": 20, "large dogs": 25, "game room": 30,
    "ev charging": 45, "granite": 60, "gourmet": 50, "open living": 25,
    "walk in": 35, "stainless": 55, "balcony": 40, "fireplace": 30,
    "pool": 70, "elevator": 35, "pet park": 15, "fitness center": 40,
    "club house": 20, "dishwasher": 45, "disposal": 10, "hot tub": 50,
    "spa": 40}
PLAIN_FEATURES = ["Apartment", "Built in 1968", "Built in 1994",
                  "Deposit: $300", "Parking lot", "Laundry facilities",
                  "Gated entry", "Courtyard"]
STREETS = ["Beech", "Oak", "Cedar", "Lamar", "Burnet", "Guadalupe",
           "Riverside", "Manor", "Slaughter", "Parmer", "Rundberg", "Braker"]
SUFFIX = ["Dr", "St", "Ln", "Blvd", "Way"]


def fmt_thousands(n):
    return f"{n:,}"


def make_row(rng, page):
    """One floor-plan row: (raw cells, expected cleaned values or None
    when cleaning drops the row, drop rule)."""
    bed = rng.choice([0, 1, 1, 1, 2, 2, 3])
    bath = rng.choice([1.0, 1.0, 1.5, 2.0, 2.0, 2.5]) if bed > 0 else 1.0
    sqft = rng.randint(380, 700) + bed * rng.randint(250, 420)
    edge = rng.random()
    # sqft cell
    if edge < 0.03:
        lo = sqft - rng.randint(20, 80)
        hi = sqft + rng.randint(20, 80)
        sqft_raw = f"{fmt_thousands(lo)}-{fmt_thousands(hi)} sqft"
        sqft = int((lo + hi) / 2.0)           # range mean, truncating cast
    elif edge < 0.05:
        sqft_raw = ""
    else:
        sqft_raw = f"{fmt_thousands(sqft)} sqft"
    # bed cell
    if bed == 0:
        bed_raw = "Studio" if rng.random() < 0.7 else ""
    else:
        bed_raw = f"{bed}bd"
    bath_raw = f"{bath:g}ba"
    signal = (FORMULA["intercept"] + FORMULA["sqft"] * sqft + FORMULA["bed"] * bed
              + FORMULA["bath"] * bath + page["bonus"] + page["zip_offset"])
    # floored: a negative price would read as a price range ("$-25")
    price = max(PRICE_FLOOR, int(round(signal + rng.gauss(0.0, NOISE_SD))))
    p = rng.random()
    if p < 0.03:
        price_raw = f"${fmt_thousands(price)}-${fmt_thousands(price + rng.randint(50, 300))}"
        price_val = "range"
    elif p < 0.06:
        price_raw = "Contact"
        price_val = None
    elif p < 0.10:
        price_raw = f"${fmt_thousands(price)}+"
        price_val = price
    else:
        price_raw = f"${fmt_thousands(price)}"
        price_val = price
    unit = rng.choice([f"{bed} Bed {bath:.1f} Bath", f"Unit {rng.randint(100, 999)}",
                       f"{rng.randint(1, 40)}A-{page['code']}"])
    cells = dict(unit=unit, sqft=sqft_raw, bed=bed_raw, bath=bath_raw, price=price_raw)
    if sqft_raw == "":
        return cells, None, "empty_sqft"
    if price_val == "range":
        return cells, None, "price_range"
    expected = dict(unit=unit, sqft=sqft, bed=float(bed), bath=float(bath),
                    price=price_val, signal=signal)
    return cells, expected, None


def page_html(page, rows, malformed):
    city_state = f"{page['city']}, {page['state']} {page['zip']}"
    head = (f'<span data-testid="home-details-summary-headline">{page["name"]}</span>'
            if malformed != "no_headline" else "<span>Listing</span>")
    cs2 = (f'<span data-testid="home-details-summary-city-state">{city_state}</span>'
           if malformed != "one_city_state" else "")
    features = "".join(f'<li class="FeatureList__FeatureListItem-sc-1 kxrPRk">{f}</li>'
                       for f in page["features"])
    trs = []
    for cells in rows:
        feat_cells = (f'<td class="FloorPlanFeaturesCell-sc">{cells["bed"]}</td>'
                      f'<td class="FloorPlanFeaturesCell-sc">{cells["bath"]}</td>'
                      if malformed != "no_features" else
                      f'<td class="FloorPlanFeaturesCell-sc">{cells["bed"]}</td>')
        trs.append(
            '<tr class="FloorPlanRow">'
            f'<td><div color="highlight" class="Text">{cells["unit"]}</div></td>'
            f'<td class="FloorPlanFloorSpaceCell-sc">{cells["sqft"]}</td>'
            f'{feat_cells}'
            '<td class="FloorPlanSMCell-sc">Available now</td>'
            f'<td class="FloorPlanSMCell-sc">{cells["price"]}</td></tr>')
    return (
        "<html><head><title>Trulia</title></head><body>\n"
        f"{head}\n"
        f'<span data-testid="home-details-summary-city-state">{page["address"]}</span>\n'
        f"{cs2}\n"
        f'<div data-testid="home-description-text-description-text">{page["description"]}</div>\n'
        f"<ul>{features}</ul>\n"
        f'<table data-testid="floor-plan-group"><tbody>{"".join(trs)}</tbody></table>\n'
        "</body></html>\n")


def generate(out_dir, seed):
    rng = random.Random(seed)
    pages_dir = os.path.join(out_dir, "pages")
    days, expected_rows, signals = [], [], []
    drops = {"empty_sqft": 0, "price_range": 0}
    n_pages = n_malformed = 0
    amenities = sorted(AMENITY_BONUS)
    for d in range(DAYS):
        date = (FIRST_DAY + datetime.timedelta(days=d)).isoformat()
        day_dir = os.path.join(pages_dir, date)
        os.makedirs(day_dir, exist_ok=True)
        day_rows = 0
        for p in range(PAGES_PER_DAY):
            city, state, zipc, zoff = rng.choice(ZIPS)
            chosen = [a for a in amenities if rng.random() < 0.3]
            feats = rng.sample(PLAIN_FEATURES, 3) + [a.title() for a in chosen]
            rng.shuffle(feats)
            page = dict(
                name=f"{rng.randint(100, 9999)} {rng.choice(STREETS)} Apartments",
                address=f"{rng.randint(100, 9999)} {rng.choice(STREETS)} {rng.choice(SUFFIX)}",
                city=city, state=state, zip=zipc, zip_offset=zoff,
                bonus=sum(AMENITY_BONUS[a] for a in chosen),
                code=f"{rng.randint(0, 9999):04d}",
                description="Please contact us for leasing details." if rng.random() < 0.5
                else f"Homes near {rng.choice(STREETS)} with {len(chosen)} amenities.",
                features=feats)
            malformed = None
            if rng.random() < MALFORMED_SHARE:
                malformed = rng.choice(["no_headline", "one_city_state", "no_features"])
            n = rng.randint(*ROWS_PER_PAGE)
            cells, exp = [], []
            for _ in range(n):
                c, e, rule = make_row(rng, page)
                cells.append(c)
                if malformed:
                    continue
                if e is None:
                    drops[rule] += 1
                else:
                    exp.append(e)
            fname = f"p{p:04d}.html"
            with open(os.path.join(day_dir, fname), "w") as f:
                f.write(page_html(page, cells, malformed))
            n_pages += 1
            n_malformed += malformed is not None
            for e in exp:
                expected_rows.append(dict(
                    name=page["name"], address=page["address"], unit=e["unit"],
                    sqft=e["sqft"], bed=e["bed"], bath=e["bath"], price=e["price"],
                    city=city, state=state, zipcode=int(zipc),
                    description=page["description"],
                    details=" ,".join(page["features"]),
                    page=fname, date=date))
                if e["price"] is not None:
                    signals.append(e["signal"])
            day_rows += len(exp)
        days.append({"date": date, "rows": day_rows})
    # the formula's own R^2 on the rows analyze can fit: how much of the
    # price variance the signal explains given the noise
    var_signal = statistics.pvariance(signals)
    r2_formula = var_signal / (var_signal + NOISE_SD ** 2)
    truth = {
        "seed": seed, "days": days, "pages": n_pages,
        "malformed_pages": n_malformed,
        "rows": len(expected_rows), "drops": drops,
        "formula": {**FORMULA, "amenity_bonus": AMENITY_BONUS,
                    "zip_offset": {z: off for _, _, z, off in ZIPS},
                    "noise_sd": NOISE_SD, "price_floor": PRICE_FLOOR},
        "r2_formula": r2_formula,
        "r2_min": round(r2_formula - R2_MARGIN, 4),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    with open(os.path.join(out_dir, "expected.jsonl"), "w") as f:
        for row in expected_rows:
            f.write(json.dumps(row, sort_keys=True) + "\n")
    return truth


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
