"""Deterministic synthesizer for the interleaved text+media documents corpus.

Produces the input table from BASELINE.json.input_hint:

    documents(doc_id string,
              spans array<struct<kind string, text string, media_ref string, offset int>>)

Span kinds encode the reference's relational facts (FIXTURES.md §1): each span's
``text`` is a ``\\x1f``-separated field list mirroring one row of one reference
dump table (pages, pagelinks, linktarget, langlinks, redirect, wikidata page,
geo_tags, wb_items_per_site, place dump) plus the target-extension
``place_polygon`` spans. Dirty rows that the reference filters out
(bin/filter_page.py:30-35, bin/filter_wikidata_geo_tags.py:28-48,
bin/filter_wikidata_page.py:38, bin/filter_langlinks.py:33-35) are included.

The generator is seed-42 deterministic and writes a SINGLE parquet file per
scale factor via pyarrow, so Spark and the DuckDB oracle read identical bytes.
It also exposes the raw fact lists (``synth_facts``) so tests can compute
expected results with an independent pure-Python oracle.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..config import (
    ALL_PLACE_TYPES,
    LANGUAGES,
    PLACE_TYPE_LEVELS,
    SEP,
    excluded_languages_for,
)

GENERATOR_VERSION = 11

# Small row groups so Spark can split the single corpus file across tasks
# (one giant row group = every scan stage is single-threaded).
ROW_GROUP_SIZE = 16384


def lang_weights(languages: list[str]) -> dict[str, float]:
    """Zipf-ish corpus-size weights for an arbitrary language list (the
    reference builds 39 editions of wildly different sizes; the round-1
    hard-coded 4-language dict could not even generate a 39-language corpus)."""
    raw = [1.0 / (i + 1) ** 1.1 for i in range(len(languages))]
    s = sum(raw)
    return {L: w / s for L, w in zip(languages, raw)}


def links_per_page(languages: list[str]) -> dict[str, int]:
    return {L: (12 if i == 0 else 6) for i, L in enumerate(languages)}


def lang_probs(languages: list[str]) -> dict[str, float]:
    """Per-item probability a language has an article for a Wikidata item
    (decays with edition rank, floored — most items exist in few editions)."""
    return {L: max(0.25, 0.8 * (0.65 ** i)) for i, L in enumerate(languages)}

CLUSTERS = [
    (52.52, 13.40),
    (48.14, 11.58),
    (40.71, -74.01),
    (-33.87, 151.21),
    (35.68, 139.69),
]

VOCAB = (
    "gate bridge river square market tower old town north south harbor museum "
    "street saint church hill castle park mount lake bay east west new upper lower"
).split()


def _title(lang: str, i: int) -> str:
    if i % 97 == 3:
        return f"Title_{lang}_{i},with,comma"
    if i % 89 == 5:
        return f"Größe_{lang}_{i}_München"
    return f"{lang.capitalize()}_article_{i:05d}"


def _fmt(x: float) -> str:
    return f"{x:.5f}"


def _lattice(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """n geo points on a 1e-5-degree lattice: 60% in dense urban clusters
    (mega-cell skew per FIXTURES.md §6), 40% uniform."""
    n_cluster = int(n * 0.6)
    which = rng.integers(0, len(CLUSTERS), n_cluster)
    clat = np.array([CLUSTERS[i][0] for i in which])
    clon = np.array([CLUSTERS[i][1] for i in which])
    lat_c = clat + rng.normal(0, 0.15, n_cluster)
    lon_c = clon + rng.normal(0, 0.15, n_cluster)
    lat_u = rng.uniform(-60, 70, n - n_cluster)
    lon_u = rng.uniform(-170, 170, n - n_cluster)
    lat = np.round(np.concatenate([lat_c, lat_u]) * 1e5) / 1e5
    lon = np.round(np.concatenate([lon_c, lon_u]) * 1e5) / 1e5
    lat = np.clip(lat, -89.9, 89.9)
    lon = np.clip(lon, -179.9, 179.9)
    return lat, lon


def synth_facts(sf: float, languages: list[str] | None = None) -> dict:
    """Generate the full deterministic fact model for scale factor ``sf``
    over an arbitrary language list (default: config.LANGUAGES)."""
    languages = list(languages or LANGUAGES)
    weights = lang_weights(languages)
    lpp = links_per_page(languages)
    lang_prob = lang_probs(languages)
    excluded = excluded_languages_for(languages)
    rng = np.random.default_rng(42)
    p_total = max(320, int(round(320_000 * sf)))
    n_pages = {L: max(20, int(round(p_total * weights[L]))) for L in languages}

    pages: dict[str, list] = {}        # lang -> [(page_id, ns, title, is_redirect)]
    linktargets: dict[str, list] = {}  # lang -> [(lt_id, ns, lt_title)]
    redirects: dict[str, list] = {}    # lang -> [(rd_from, ns, rd_title)]
    art_idx: dict[str, list[int]] = {}

    for L in languages:
        P = n_pages[L]
        rows, lts, rds, arts = [], [], [], []
        n_red = max(2, P // 10)
        red_set = set(
            rng.choice(np.arange(P // 2, P), size=min(n_red, P - P // 2), replace=False).tolist()
        )
        titles = [_title(L, i) for i in range(P)]
        for i in range(P):
            pid = 1000 + i
            is_red = i in red_set
            rows.append((pid, 0, titles[i], is_red))
            lts.append((10_000 + i, 0, titles[i]))
            if is_red:
                tgt = int(rng.integers(0, P // 2))
                rds.append((pid, 0, titles[tgt]))
            else:
                arts.append(i)
        # redirect whose own title collides with an article title is impossible
        # (titles unique per wiki) but a *redirect target chain* collision is:
        # two redirects to the same article -> same importance, distinct titles.
        # The anti-join case (steps/output.sh:67-71): a redirect FROM-title equal
        # to an existing ARTICLE title. Model it as a redirect page whose title
        # duplicates an article's title (dirty dump data).
        coll_t = titles[arts[0]]
        rows.append((8_000_000, 0, coll_t, True))
        rds.append((8_000_000, 0, titles[arts[1]]))
        # dirty pages: ns!=0, \r in title, empty title
        rows.append((8_000_100, 1, f"Talk_{L}_x", False))
        rows.append((8_000_101, 0, f"Bad\r{L}_title", False))
        rows.append((8_000_102, 0, "", False))
        lts.append((60_000_100, 1, f"Talk_{L}_x"))
        lts.append((60_000_101, 0, f"Extra_{L}_target"))  # linktarget with no page
        lts.append((60_000_102, 0, ""))                    # dropped: empty title
        pages[L], linktargets[L], redirects[L], art_idx[L] = rows, lts, rds, arts

    # pagelinks: zipf-skewed targets over linktarget ids (valid + some missing)
    pagelinks: dict[str, list] = {}
    for L in languages:
        P = n_pages[L]
        n_links = P * lpp[L]
        ranks = rng.zipf(1.35, n_links * 2)
        ranks = ranks[ranks <= P + 40][:n_links]  # a few ids beyond P -> misses
        pl_from = rng.integers(1000, 1000 + P, len(ranks))
        ns = np.where(rng.random(len(ranks)) < 0.05, 1, 0)  # 5% non-article ns
        pagelinks[L] = [
            (int(f), int(n), 10_000 + int(r) - 1)
            for f, n, r in zip(pl_from, ns, ranks)
        ]
        # guarantee a geo-linked hot key: 50 extra links to article 0
        pagelinks[L] += [(1000, 0, 10_000 + art_idx[L][0])] * 50

    # wikidata items: connect article pages across languages
    n_items = max(80, p_total // 2)
    pools = {L: [i for i in art_idx[L]] for L in languages}
    for L in languages:
        rng.shuffle(pools[L])
    item_langs: list[dict[str, int]] = []  # item j -> {lang: page_idx}
    L0 = languages[0]
    for j in range(n_items):
        chosen = {}
        for L in languages:
            if rng.random() < lang_prob[L] and pools[L]:
                chosen[L] = pools[L].pop()
        if not chosen:
            if pools[L0]:
                chosen[L0] = pools[L0].pop()
            else:
                break
        item_langs.append(chosen)
    n_items = len(item_langs)

    # sitelinks (wb_items_per_site): titles with SPACES (reference converts
    # ' '->'_' at steps/wikidata_process.sh:114)
    sitelinks: list[tuple[int, int, str, str]] = []  # (item_j, ips_item_id, site_id, page)
    langlinks: dict[str, list] = {L: [] for L in languages}
    title_of = {L: {i: r[2] for i, r in enumerate(pages[L])} for L in languages}
    pid_of = {L: {i: r[0] for i, r in enumerate(pages[L])} for L in languages}
    for j, chosen in enumerate(item_langs):
        qnum = 1000 + j
        for L, pi in chosen.items():
            sitelinks.append((j, qnum, f"{L}wiki", title_of[L][pi].replace("_", " ")))
            for O, po in chosen.items():
                if O != L:
                    langlinks[L].append(
                        (pid_of[L][pi], O, title_of[O][po].replace("_", " "))
                    )
        # dirty langlink in an excluded language
        if j % 50 == 1 and L0 in chosen:
            langlinks[L0].append(
                (pid_of[L0][chosen[L0]], excluded[0], f"Fr title {j}")
            )
    # dirty sitelinks: excluded site, strip-all-'wiki' quirk (F3), empty title.
    # The excluded-site row's code is DERIVED from excluded_languages_for (not
    # a 'frwiki' literal): under LANGUAGES_FULL 'fr' is an ACTIVE language, so
    # a hardcoded frwiki row would silently become a valid sitelink and stop
    # exercising the excluded-site filter in the 39-language configuration.
    sitelinks.append((-1, 77_000_000, f"{excluded[0]}wiki", f"{excluded[0].capitalize()} page"))
    sitelinks.append((-1, 77_000_001, f"wiki{languages[0]}", "Quirk page"))  # 'wikiXX'->'XX' kept in view
    sitelinks.append((-1, 77_000_002, "enwiki", ""))

    # geo: 70% of items
    geo_items = sorted(
        rng.choice(n_items, size=int(n_items * 0.7), replace=False).tolist()
    )
    lat, lon = _lattice(rng, len(geo_items))
    geo_rows: list[tuple[int, str, int, str, str]] = []  # (gt_page_id, globe, primary, lat, lon)
    item_coord: dict[int, tuple[float, float]] = {}
    wd_page_id = {j: 900_000 + j for j in range(n_items)}
    for k, j in enumerate(geo_items):
        geo_rows.append((wd_page_id[j], "earth", 1, _fmt(lat[k]), _fmt(lon[k])))
        item_coord[j] = (float(lat[k]), float(lon[k]))
    # an item with two distinct earth-primary coords (DISTINCT + patch tie-break)
    if geo_items:
        j0 = geo_items[0]
        geo_rows.append((wd_page_id[j0], "earth", 1, _fmt(item_coord[j0][0] + 0.5), _fmt(item_coord[j0][1] + 0.5)))
    # dirty geo rows
    geo_rows.append((wd_page_id[geo_items[1]], "moon", 1, "29.63771", "111.17787"))
    geo_rows.append((wd_page_id[geo_items[2]], "earth", 0, "10.00000", "10.00000"))
    geo_rows.append((wd_page_id[geo_items[3]], "earth", 1, "0.00000", "0.00000"))
    geo_rows.append((wd_page_id[geo_items[4]], "earth", 1, "95.00000", "10.00000"))

    # places: 50% of geo items + 2 non-geo items
    n_pl = int(len(geo_items) * 0.5)
    place_items = sorted(rng.choice(geo_items, size=n_pl, replace=False).tolist())
    geo_set = set(geo_items)  # hoisted: building it per-item was O(n^2)
    non_geo = [j for j in range(n_items) if j not in geo_set]
    place_items += non_geo[:2]
    place_rows: list[tuple[str, str]] = []
    for j in place_items:
        t = ALL_PLACE_TYPES[int(rng.integers(0, len(ALL_PLACE_TYPES)))]
        place_rows.append((f"Q{1000 + j}", t))
        if rng.random() < 0.10:  # conflicting second type (DISTINCT ON exercise)
            t2 = ALL_PLACE_TYPES[int(rng.integers(0, len(ALL_PLACE_TYPES)))]
            place_rows.append((f"Q{1000 + j}", t2))
        if rng.random() < 0.05:  # exact duplicate row ('uniq' in reference crawl)
            place_rows.append((f"Q{1000 + j}", t))
    place_rows.append(("L777", "Q515"))  # non-Q item -> filtered (P8)

    # polygons: regular n-gons around 30% of geo places
    poly_rows: list[tuple[str, int, str]] = []
    geo_place_items = [j for j in place_items if j in item_coord]
    n_poly = max(3, int(len(geo_place_items) * 0.3))
    poly_items = sorted(rng.choice(geo_place_items, size=min(n_poly, len(geo_place_items)), replace=False).tolist())
    for j in poly_items:
        cy, cx = item_coord[j]
        nv = int(rng.integers(5, 10))
        R = float(rng.uniform(0.05, 0.5))
        phase = float(rng.uniform(0, 2 * np.pi))
        ang = phase + np.arange(nv) * (2 * np.pi / nv)
        vy = cy + R * np.sin(ang)
        vx = cx + R * np.cos(ang)
        verts = ",".join(f"{a:.6f}:{b:.6f}" for a, b in zip(vy, vx))
        poly_rows.append((f"Q{1000 + j}", nv, verts))

    return {
        "sf": sf,
        "n_pages": n_pages,
        "pages": pages,
        "linktargets": linktargets,
        "redirects": redirects,
        "pagelinks": pagelinks,
        "langlinks": langlinks,
        "sitelinks": sitelinks,
        "geo_rows": geo_rows,
        "place_rows": place_rows,
        "poly_rows": poly_rows,
        "item_langs": item_langs,
        "item_coord": item_coord,
        "wd_page_id": wd_page_id,
        "title_of": title_of,
        "pid_of": pid_of,
        "art_idx": art_idx,
    }


def build_documents(facts: dict) -> pa.Table:
    """Assemble facts into interleaved documents (doc_id, spans)."""
    rng = np.random.default_rng(4242)
    doc_ids: list[str] = []
    offsets = [0]
    kinds: list[str] = []
    texts: list[str] = []
    media: list[str] = []
    offs: list[int] = []

    def emit(doc_id: str, fact_spans: list[tuple[str, str, str]]):
        """Interleave prose/media among fact spans; offsets 0..n-1."""
        n_prose = int(rng.integers(1, 4))
        all_spans = list(fact_spans)
        for _ in range(n_prose):
            words = " ".join(rng.choice(VOCAB, size=int(rng.integers(4, 12))))
            all_spans.append(("prose", words, ""))
        if rng.random() < 0.5:
            h = hashlib.md5(doc_id.encode()).hexdigest()[:12]
            cap = " ".join(rng.choice(VOCAB, size=3))
            all_spans.append(("media", cap, f"img://{h}"))
        order = rng.permutation(len(all_spans))
        for o, idx in enumerate(order):
            k, t, m = all_spans[idx]
            kinds.append(k)
            texts.append(t)
            media.append(m)
            offs.append(o)
        doc_ids.append(doc_id)
        offsets.append(offsets[-1] + len(all_spans))

    J = SEP.join
    pagelinks_by_from: dict[str, dict[int, list]] = {}
    for L, pls in facts["pagelinks"].items():
        d: dict[int, list] = {}
        for f, ns, tgt in pls:
            d.setdefault(f, []).append((f, ns, tgt))
        pagelinks_by_from[L] = d
    langlinks_by_from: dict[str, dict[int, list]] = {}
    for L, lls in facts["langlinks"].items():
        d = {}
        for f, ol, t in lls:
            d.setdefault(f, []).append((f, ol, t))
        langlinks_by_from[L] = d
    redirect_by_from = {
        L: {r[0]: r for r in rds} for L, rds in facts["redirects"].items()
    }
    lt_by_lang = facts["linktargets"]

    for L in facts["pages"]:
        lt_seen = 0
        for i, (pid, ns, title, is_red) in enumerate(facts["pages"][L]):
            spans: list[tuple[str, str, str]] = []
            spans.append(("page", J([str(pid), title, str(ns)]), ""))
            if lt_seen < len(lt_by_lang[L]) and i < len(lt_by_lang[L]):
                lt_id, lns, lt = lt_by_lang[L][i]
                spans.append(("linktarget", J([str(lt_id), str(lns), lt]), ""))
                lt_seen += 1
            if pid in redirect_by_from[L]:
                rf, rns, rt = redirect_by_from[L][pid]
                spans.append(("redirect", J([str(rf), str(rns), rt]), ""))
            for f, pns, tgt in pagelinks_by_from[L].get(pid, []):
                spans.append(("pagelink", J([str(f), str(pns), str(tgt)]), ""))
            for f, ol, t in langlinks_by_from[L].get(pid, []):
                spans.append(("langlink", J([str(f), ol, t]), ""))
            emit(f"{L}:doc_{pid}_{i}", spans)
        # dump doc: remaining linktargets
        rest = lt_by_lang[L][len(facts["pages"][L]):]
        if rest or lt_seen < len(lt_by_lang[L]):
            extra = lt_by_lang[L][lt_seen:]
            spans = [("linktarget", J([str(a), str(b), c]), "") for a, b, c in extra]
            emit(f"{L}:_dump_extra", spans)

    # wikidata docs
    geo_by_pid: dict[int, list] = {}
    for g in facts["geo_rows"]:
        geo_by_pid.setdefault(g[0], []).append(g)
    sl_by_item: dict[int, list] = {}
    for j, qnum, site, page in facts["sitelinks"]:
        sl_by_item.setdefault(j, []).append((qnum, site, page))
    pl_by_item: dict[str, list] = {}
    for it, io in facts["place_rows"]:
        pl_by_item.setdefault(it, []).append(io)
    poly_by_item = {it: (n, v) for it, n, v in facts["poly_rows"]}

    for j in range(len(facts["item_langs"])):
        qnum = 1000 + j
        wpid = facts["wd_page_id"][j]
        spans = [("wikidata_page", J([str(wpid), "0", f"Q{qnum}"]), "")]
        for g in geo_by_pid.get(wpid, []):
            spans.append(("wikidata_coord", J([str(g[0]), g[1], str(g[2]), g[3], g[4]]), ""))
        for qn, site, page in sl_by_item.get(j, []):
            spans.append(("sitelink", J([str(qn), site, page]), ""))
        for io in pl_by_item.get(f"Q{qnum}", []):
            spans.append(("place", J([f"Q{qnum}", io]), ""))
        if f"Q{qnum}" in poly_by_item:
            nv, verts = poly_by_item[f"Q{qnum}"]
            spans.append(("place_polygon", J([f"Q{qnum}", str(nv), verts]), ""))
        emit(f"wd:Q{qnum}", spans)

    # wikidata dump doc: dirty wd pages + orphan sitelinks + non-Q place
    spans = [
        ("wikidata_page", J(["80000001", "0", "XNotanitem"]), ""),
        ("wikidata_page", J(["80000002", "120", "Q777777"]), ""),
        ("place", J(["L777", "Q515"]), ""),
    ]
    for j, qnum, site, page in facts["sitelinks"]:
        if j == -1:
            spans.append(("sitelink", J([str(qnum), site, page]), ""))
    emit("wd:_dump_extra", spans)

    struct = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(media, pa.string()),
            pa.array(offs, pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans_arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)
    return pa.table({"doc_id": pa.array(doc_ids, pa.string()), "spans": spans_arr})


def spans_dir_path(sf_dir_or_sf, languages: list[str] | None = None) -> tuple[str, float]:
    """(corpus dir, sf) for a scale factor / driver dir + language config —
    the single definition of the layout, shared by ensure_spans_data and by
    oracle SQL that must name the same path without generating."""
    from ..config import sf_of, spans_dir_for

    if isinstance(sf_dir_or_sf, str):
        out_dir = spans_dir_for(sf_dir_or_sf)
        sf = sf_of(sf_dir_or_sf)
    else:
        sf = float(sf_dir_or_sf)
        out_dir = spans_dir_for(f"sf{sf:g}")
    if languages and list(languages) != LANGUAGES:
        # non-default language set -> its own corpus dir (e.g. the 39-language
        # production-configuration corpus of tests/test_importance.py), keyed
        # by CONTENT (two same-length language sets must not share a dir and
        # thrash full regenerations on every alternation)
        tag = hashlib.md5(",".join(languages).encode()).hexdigest()[:8]
        out_dir = f"{out_dir}_l{len(languages)}_{tag}"
    return out_dir, sf


def ensure_spans_data(sf_dir_or_sf, languages: list[str] | None = None) -> str:
    """Write (once) the interleaved corpus for a scale factor; return dir.

    ``languages`` selects a non-default language configuration (own dir)."""
    languages = list(languages) if languages else None
    out_dir, sf = spans_dir_path(sf_dir_or_sf, languages)
    meta_path = os.path.join(out_dir, "_meta.json")
    meta_langs = None
    if os.path.exists(meta_path):
        try:
            with open(meta_path) as f:
                m = json.load(f)
            meta_langs = m.get("languages")
            if m.get("version") == GENERATOR_VERSION and (
                languages is None or meta_langs == languages
            ):
                # no explicit language request -> trust the dir's recorded
                # configuration (a direct spans-dir path, e.g. the
                # 39-language corpus, must not be silently regenerated with
                # the default list)
                return out_dir
        except Exception:
            pass
    lang_list = languages or meta_langs or LANGUAGES
    os.makedirs(out_dir, exist_ok=True)
    facts = synth_facts(sf, lang_list)
    table = build_documents(facts)
    pq.write_table(
        table, os.path.join(out_dir, "documents.parquet"),
        row_group_size=ROW_GROUP_SIZE,
    )
    pq.write_table(
        pa.table({"lang": pa.array(lang_list, pa.string())}),
        os.path.join(out_dir, "languages.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "place_type": pa.array([t for t, _ in PLACE_TYPE_LEVELS], pa.string()),
                "level": pa.array([l for _, l in PLACE_TYPE_LEVELS], pa.int32()),
            }
        ),
        os.path.join(out_dir, "place_type_levels.parquet"),
    )
    with open(meta_path, "w") as f:
        json.dump(
            {
                "version": GENERATOR_VERSION,
                "sf": sf,
                "n_docs": table.num_rows,
                "languages": lang_list,
            },
            f,
        )
    return out_dir
