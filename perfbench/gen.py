#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads (stdlib only).

Every input the timed JVM reads is written here, before it starts, together
with the ground truth the scorers in score.py compare against. Names come
from the embedded vocabulary below, drawn with Zipf weights, so nothing is
downloaded. The same (workload, seed, size) always yields the same bytes.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [--size full|tiny]
"""
import argparse
import json
import os
import random
import sys

# Vocabulary in rank order: Zipf draws make the head names common (hot
# blocking buckets) and the tail rare.
SURNAMES = (
    "mueller schmidt schneider fischer weber meyer wagner becker schulz "
    "hoffmann schaefer koch bauer richter klein wolf schroeder neumann "
    "schwarz zimmermann braun krueger hofmann hartmann lange schmitt werner "
    "schmitz krause meier lehmann schmid schulze maier koehler herrmann "
    "koenig walter mayer huber kaiser fuchs peters lang scholz moeller weiss "
    "jung hahn schubert vogel friedrich keller guenther frank berger winkler "
    "roth beck lorenz baumann franke albrecht schuster simon ludwig boehm "
    "winter kraus martin schumacher kraemer vogt stein jaeger otto sommer "
    "gross seidel heinrich brandt haas schreiber graf schulte dietrich ziegler "
    "kuhn kuehn pohl engel horn busch bergmann thomas voigt sauer arnold "
    "wolff pfeiffer kowalski nowak wisniewski wojcik kowalczyk kaminski "
    "lewandowski zielinski szymanski wozniak dabrowski kozlowski jankowski "
    "mazur kwiatkowski krawczyk piotrowski grabowski nowakowski pawlowski "
    "michalski nowicki adamczyk dudek zajac wieczorek jablonski krol majewski "
    "olszewski jaworski wrobel malinowski pawlak witkowski walczak stepien "
    "gorski rutkowski michalak sikora ostrowski baran duda szewczyk tomaszewski "
    "pietrzak marciniak wroblewski zalewski jakubowski jasinski zawadzki "
    "sadowski bak chmielewski wlodarczyk borkowski czarnecki sawicki sokolowski "
    "urbanski kubiak maciejewski szczepanski kucharski wilk kalinowski lis "
    "mazurek wysocki adamski kazmierczak wasilewski sobczak czerwinski "
    "andrzejewski cieslak glowacki zakrzewski kolodziej sikorski krajewski "
    "gajewski szymczak szulc baranowski laskowski brzezinski makowski "
    "ziolkowski przybylski dubois durand lefebvre moreau laurent girard "
    "bonnet dupont lambert fontaine rousseau vincent muller lefevre faure "
    "andre mercier blanc guerin boyer garnier chevalier francois legrand "
    "gauthier garcia perrin robin clement morin nicolas henry roussel "
    "mathieu gautier masson marchand duval denis dumont marie lemaire noel "
    "meyer dufour meunier brun blanchard giraud joly riviere lucas brunet "
    "gaillard barbier arnaud martinez gerard roche renard schmitt roy leroux "
    "colin vidal caron picard roger fabre aubert lemoine renaud dumas lacroix "
    "olivier philippe bourgeois pierre benoit rey leclerc payet rolland "
    "leclercq guillaume lecomte lopez jean dupuy guillot hubert berger carpentier "
    "sanchez dupuis moulin louis deschamps huet vasseur perez boucher fleury "
    "royer klein jacquet adam paris poirier marty aubry guyot carre charles "
    "renault charpentier menard maillard baron bertin bailly herve schneider "
    "fernandez le collet leger bouvier julien prevost millet perrot daniel "
    "devries jansen bakker visser smit meijer mulder bos vos peters hendriks "
    "dekker brouwer dijkstra smits vermeulen kok jacobs vandam janssens "
    "novak svoboda novotny dvorak cerny prochazka kucera vesely horak nemec "
    "pokorny marek pospisil hajek jelinek kral ruzicka benes fiala sedlacek "
    "horvath kovacs toth szabo nagy varga kiss molnar nemeth farkas balogh "
    "papp takacs juhasz lakatos meszaros olah simon racz fekete szilagyi "
    "rossi russo ferrari esposito bianchi romano colombo ricci marino greco "
    "bruno gallo conti deluca mancini costa giordano rizzo lombardi moretti"
).split()
GIVEN = (
    "johann anna maria josef karl heinrich wilhelm friedrich elisabeth hans "
    "paul franz otto hermann walter ernst georg emma martha margarete frieda "
    "gertrud bertha ludwig peter august rudolf kurt fritz willi richard "
    "helene johanna luise erna klara ida kaethe charlotte alfred bruno emil "
    "max erich gustav adolf albert jan stanislaw jozef wladyslaw stefan "
    "tadeusz zofia marianna katarzyna jadwiga helena janina franciszek "
    "kazimierz antoni piotr andrzej aleksander wojciech czeslaw jean pierre "
    "louis marcel henri andre rene lucien marguerite jeanne germaine suzanne "
    "yvonne madeleine simone raymond roger robert jacques michel georges "
    "lucie alice odette cornelis hendrik jacob willem pieter dirk gerrit "
    "josefa vaclav jaroslav frantisek milan ladislav jiri bozena ludmila "
    "istvan laszlo ferenc sandor janos erzsebet ilona giuseppe giovanni "
    "antonio mario luigi francesco angelo vincenzo rosa teresa lucia carla "
    "ivan nikolai mikhail vladimir olga tatiana sergei boris abraham isaak "
    "moses samuel david leon salomon rachel sara rebekka lea esther golda"
).split()
PLACES = (
    "berlin hamburg muenchen koeln frankfurt stuttgart duesseldorf dortmund "
    "essen leipzig bremen dresden hannover nuernberg duisburg bochum wuppertal "
    "bielefeld bonn muenster warschau krakau lodz breslau posen danzig stettin "
    "lublin kattowitz paris lyon marseille lille strasbourg amsterdam rotterdam "
    "prag bruenn budapest wien graz linz rom mailand neapel turin lemberg "
    "wilna riga kiew minsk odessa"
).split()
CAMPS = ("Dachau Buchenwald Sachsenhausen Neuengamme Flossenbuerg Mauthausen "
         "Ravensbrueck Natzweiler Auschwitz Majdanek Stutthof Gross-Rosen").split()

# Transliteration pairs for the umlaut-spelling noise of the ingest workload.
UMLAUT = (("ue", "ü"), ("oe", "ö"), ("ae", "ä"))

SIZES = {
    # match reference and source rows, cluster entities, ingest documents
    "full": {"ref": 200000, "src": 12000, "entities": 2500, "docs": 1600},
    "tiny": {"ref": 400, "src": 60, "entities": 60, "docs": 20},
}
PARAMS = {
    "zipf_s": 1.05,
    # flatter for the 200k-person match reference: at 1.05 its head
    # buckets would give about 1.5k candidates per source, at 0.4 about 80
    "match_zipf_s": 0.4,
    "typo_rate": 0.12,
    "match_typo_rate": 0.24,
    "match_twin_share": 0.1,
    "cluster_twin_share": 0.5,
    "copies": [2, 4],
    "transcriptions": [3, 5],
}


def zipf_sampler(rng, vocab, s, n):
    """Stratified Zipf draws: of every n draws, each word appears its
    expected number of times (largest remainders fill the rounding gap),
    in seeded order. Bucket sizes, and so the work per batch, then vary
    little from seed to seed; which records share a bucket still does.
    """
    w = [1.0 / rank ** s for rank in range(1, len(vocab) + 1)]
    total = sum(w)
    exact = [n * x / total for x in w]
    counts = [int(e) for e in exact]
    by_rem = sorted(range(len(vocab)), key=lambda i: counts[i] - exact[i])
    for i in by_rem[:n - sum(counts)]:
        counts[i] += 1
    pool = [word for word, c in zip(vocab, counts) for _ in range(c)]
    state = {"left": []}

    def draw():
        if not state["left"]:
            state["left"] = pool[:]
            rng.shuffle(state["left"])
        return state["left"].pop()
    return draw


LETTERS = "abcdefghijklmnopqrstuvwxyz"


def typo(rng, word):
    """One keyboard-style edit: substitute, delete, insert or transpose."""
    if len(word) < 3:
        return word + rng.choice(LETTERS)
    i = rng.randrange(1, len(word) - 1)
    kind = rng.randrange(4)
    if kind == 0:
        return word[:i] + rng.choice(LETTERS) + word[i + 1:]
    if kind == 1:
        return word[:i] + word[i + 1:]
    if kind == 2:
        return word[:i] + rng.choice(LETTERS) + word[i:]
    return word[:i - 1] + word[i] + word[i - 1] + word[i + 1:]


def person(rng, draw_surname, draw_given, draw_place):
    given = draw_given()
    if rng.random() < 0.15:
        given += " " + draw_given()
    return {
        "g": given,
        "l": draw_surname(),
        "y": rng.randrange(1880, 1931),
        "m": rng.randrange(1, 13),
        "d": rng.randrange(1, 29),
        "p": draw_place(),
        "n": str(rng.randrange(1, 200000)),
    }


def dob(p):
    return "%04d%02d%02d" % (p["y"], p["m"], p["d"])


def noisy(rng, p, rate):
    """A transcription of person p with independent per-field noise."""
    q = dict(p)
    if rng.random() < rate:
        q["g"] = typo(rng, q["g"])
    if rng.random() < rate:
        q["l"] = typo(rng, q["l"])
    if rng.random() < rate:
        if q["d"] <= 12 and rng.random() < 0.5:
            q["m"], q["d"] = q["d"], q["m"]
        else:
            q["y"] += rng.choice((-1, 1))
    if rng.random() < rate:
        q["p"] = typo(rng, q["p"])
    if rng.random() < rate:
        q["n"] = typo(rng, q["n"]) if len(q["n"]) > 2 else q["n"] + "1"
        q["n"] = "".join(c for c in q["n"] if c.isdigit()) or "1"
    return q


LINK_HEADER = ["strGName_processed", "strLName_processed", "strDoB_processed",
               "strPoB_processed", "prisoner_number"]


def link_row(p):
    return [p["g"], p["l"], dob(p), p["p"], p["n"]]


def write_csv(path, header, rows):
    # Fields never contain commas, quotes or newlines except the ingest
    # JSON column, which is quoted by csv_quote.
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def csv_quote(s):
    return '"' + s.replace('"', '""') + '"'


def samplers(rng, s, n):
    return (zipf_sampler(rng, SURNAMES, s, n), zipf_sampler(rng, GIVEN, s, n),
            zipf_sampler(rng, PLACES, s, n))


def gen_match(rng, size, out):
    ds, dg, dp = samplers(rng, PARAMS["match_zipf_s"], size["ref"])
    ref = [person(rng, ds, dg, dp) for _ in range(size["ref"])]
    write_csv(os.path.join(out, "reference.csv"), ["trgID"] + LINK_HEADER,
              (["R%07d" % i] + link_row(p) for i, p in enumerate(ref)))
    # Systematic sample over the reference sorted by name: the sources'
    # name mix follows the reference's, so their buckets scale with it.
    order = sorted(range(len(ref)), key=lambda i: (ref[i]["l"], ref[i]["g"], rng.random()))
    step = len(ref) / size["src"]
    start = rng.random() * step
    picks = [order[int(start + k * step)] for k in range(size["src"])]
    rng.shuffle(picks)
    src_rows, truth = [], []
    for i, t in enumerate(picks):
        p = ref[t]
        q = p if rng.random() < PARAMS["match_twin_share"] else noisy(rng, p, PARAMS["match_typo_rate"])
        src_rows.append(["S%07d" % i] + link_row(q))
        truth.append(["S%07d" % i, "R%07d" % t])
    write_csv(os.path.join(out, "source.csv"), ["srcID"] + LINK_HEADER, src_rows)
    write_csv(os.path.join(out, "truth.csv"), ["srcID", "trgID"], truth)
    return len(src_rows)


def gen_cluster(rng, size, out):
    ds, dg, dp = samplers(rng, PARAMS["zipf_s"], size["entities"])
    rows = []
    lo, hi = PARAMS["copies"]
    for e in range(size["entities"]):
        p = person(rng, ds, dg, dp)
        rows.append((e, p))
        for _ in range(rng.randint(lo, hi) - 1):
            twin = rng.random() < PARAMS["cluster_twin_share"]
            rows.append((e, p if twin else noisy(rng, p, PARAMS["typo_rate"])))
    rng.shuffle(rows)
    write_csv(os.path.join(out, "persons.csv"), ["id"] + LINK_HEADER,
              ([str(i)] + link_row(p) for i, (_, p) in enumerate(rows)))
    write_csv(os.path.join(out, "truth.csv"), ["id", "entity"],
              ([str(i), str(e)] for i, (e, _) in enumerate(rows)))
    return len(rows)


def cap(word):
    return " ".join(w[:1].upper() + w[1:] for w in word.split(" "))


def with_umlauts(word):
    for plain, uml in UMLAUT:
        word = word.replace(plain, uml)
    return word


DATE_FIELDS = ("birthdate_year", "birthdate_month", "birthdate_day",
               "imprisonment_year", "imprisonment_month", "imprisonment_day")


def ingest_noise(rng, field, value):
    """One crowd-transcription error on a display value."""
    if field in DATE_FIELDS or field in ("prisoner_number", "prisoner_category"):
        kind = rng.randrange(3)
        if kind == 0:
            return None
        if kind == 1:
            return str(int(value))
        return value[:-1] + str((int(value[-1]) + 1) % 10)
    kind = rng.randrange(5)
    if kind == 0:
        return typo(rng, value)
    if kind == 1:
        return value[:1] + "." if field == "first_name" else value[:4] + "."
    if kind == 2:
        alt = with_umlauts(value)
        if alt == value:
            for plain, uml in UMLAUT:
                alt = alt.replace(uml, plain)
        return alt if alt != value else value.upper()
    if kind == 3:
        return value.upper() if rng.random() < 0.5 else value.lower()
    return None


def gen_ingest(rng, size, out):
    ds, dg, dp = samplers(rng, PARAMS["zipf_s"], size["docs"])
    rate = PARAMS["typo_rate"]
    lo, hi = PARAMS["transcriptions"]
    rows, truth = [], []
    for d in range(size["docs"]):
        p = person(rng, ds, dg, dp)
        doc = "do_%06d" % d
        # Display spellings: capitalised names, German names with umlauts.
        t = {
            "first_name": cap(p["g"].split(" ")[0]),
            "last_name": cap(with_umlauts(p["l"])) if rng.random() < 0.5 else cap(p["l"]),
            "place_of_birth": cap(p["p"]),
            "prisoner_number": p["n"],
            "birthdate_year": "%04d" % p["y"],
            "birthdate_month": "%02d" % p["m"],
            "birthdate_day": "%02d" % p["d"],
            "imprisonment_year": "%04d" % rng.randrange(1933, 1946),
            "imprisonment_month": "%02d" % rng.randrange(1, 13),
            "imprisonment_day": "%02d" % rng.randrange(1, 29),
            "imprisonment_camp": rng.choice(CAMPS),
            "prisoner_category": str(rng.randrange(1, 9)),
        }
        truth.append([doc] + [t[k] for k in INGEST_TRUTH_FIELDS])
        for _ in range(rng.randint(lo, hi)):
            v = {}
            for k, val in t.items():
                v[k] = ingest_noise(rng, k, val) if rng.random() < rate else val
            blob = {
                "prisoner_category_repeat": [{"prisoner_category": v["prisoner_category"]}],
                "prisoner_number_repeat": [{"prisoner_number": v["prisoner_number"]}],
                "imprisonment_repeat": [{k: v[k] for k in (
                    "imprisonment_year", "imprisonment_month", "imprisonment_day",
                    "imprisonment_camp")}],
                "place_of_birth_repeat": [{"place_of_birth": v["place_of_birth"]}],
                "birthdate_repeat": [{k: v[k] for k in (
                    "birthdate_year", "birthdate_month", "birthdate_day")}],
                "first_name_repeat": [{"first_name": v["first_name"]}],
                "last_name_repeat": [{"last_name": v["last_name"]}],
            }
            rows.append((doc, json.dumps(blob, ensure_ascii=False, separators=(",", ":"))))
    rng.shuffle(rows)
    # An export in INGEST_PARTS files, so the scan and every layer after it
    # run as that many tasks.
    parts = os.path.join(out, "transcriptions")
    os.makedirs(parts)
    per = -(-len(rows) // INGEST_PARTS)
    for k in range(INGEST_PARTS):
        write_csv(os.path.join(parts, "part-%05d.csv" % k),
                  ["row_id", "workflow_id", "document_id", "json_data"],
                  ([str(i), "wo_001", doc, csv_quote(blob)]
                   for i, (doc, blob) in enumerate(rows) if i // per == k))
    write_csv(os.path.join(out, "truth.csv"), ["document_id"] + INGEST_TRUTH_FIELDS, truth)
    return len(rows)


INGEST_PARTS = 4
INGEST_TRUTH_FIELDS = ["first_name", "last_name", "place_of_birth", "birthdate_year",
                       "birthdate_month", "birthdate_day", "imprisonment_camp",
                       "prisoner_category"]

GENERATORS = {"ingest": gen_ingest, "match": gen_match, "cluster": gen_cluster}


def generate(workload, seed, out, size="full"):
    """Write the workload's inputs and truth into out; return its params."""
    os.makedirs(out, exist_ok=True)
    # Seed mixes in the workload so each workload's stream is independent.
    rng = random.Random("%s:%d" % (workload, seed))
    records = GENERATORS[workload](rng, SIZES[size], out)
    params = dict(PARAMS, workload=workload, seed=seed, size=size,
                  records=records, **SIZES[size])
    with open(os.path.join(out, "params.json"), "w") as f:
        json.dump(params, f, indent=1, sort_keys=True)
    return params


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(GENERATORS))
    ap.add_argument("seed", type=int)
    ap.add_argument("out")
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args(argv)
    print(json.dumps(generate(a.workload, a.seed, a.out, a.size)))


if __name__ == "__main__":
    main(sys.argv[1:])
