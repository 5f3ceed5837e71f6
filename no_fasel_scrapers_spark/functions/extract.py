"""Vectorized HTML extraction — the engine's only Python hot path.

One Arrow-batched ``mapInPandas`` stage replaces every per-site
BeautifulSoup call-site in the reference.  Each page row is parsed exactly
once; all field logic runs against the mini-DOM (functions/html_select.py);
everything downstream is pure Spark columns.

Per-site extractor families mirror the reference's selector logic
(citations inline).  The unified output schema carries, per page:

- ``links``      — outgoing frontier links ``array<struct<url,role>>``
- ``cards``      — listing-card records (sites whose listing page carries
                   full/partial records: Fasel title+image, HDW everything,
                   WeCima everything, CimaNow most)
- ``fields``     — detail-page fields (id, title, format, genres, iframe…)
- ``last_page``  — pagination extent (listing page 1 probes)
- ``text``       — canonical extracted plain text: every DOM text node in
                   document order, stripped, empties dropped, joined with
                   ``\\n``.  This is the byte-identical per-url invariant
                   checked by the golden tests.

Roles: ``listing | detail | season | episode | select | shortlink | watch |
home``.  Discovery assigns the role of each emitted link, so the next wave's
extractor dispatch is a plain column, not a re-classification.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from .html_select import Node, parse_html

# ---------------------------------------------------------------------------
# Output schema (DDL) for mapInPandas
# ---------------------------------------------------------------------------

CARD_FIELDS = (
    "url string, item_id string, title string, image_url string, "
    "rating string, genres array<string>, season_number string, source string"
)

DETAIL_FIELDS = (
    "item_id string, title string, fmt string, genres array<string>, "
    "image_url string, iframe_src string, short_link_id string, "
    "episode_links array<string>, "
    "seasons array<struct<season_id string, season_number int>>, "
    "episode_entries array<struct<url string, num int>>, "
    "episode_id string, episode_number int, sources_json string, "
    "next_url string"
)

EXTRACT_SCHEMA = (
    "url string, role string, site string, "
    f"links array<struct<url string, role string>>, "
    f"cards array<struct<{CARD_FIELDS}>>, "
    f"fields struct<{DETAIL_FIELDS}>, "
    "last_page int, text string"
)


# a host's site is the first of these its lowercased name contains; the
# crawl's Column twin (plans/crawl._site_col) reads the same order
SITES = ("fasel", "akwam", "hdw", "wecima", "cimanow")


def site_of_host(host: str) -> str:
    host = (host or "").lower()
    for s in SITES:
        if s in host:
            return s
    return "unknown"


def page_text(root: Node) -> str:
    """Canonical plain text: stripped non-empty text nodes joined by \\n."""
    out: list[str] = []
    stack: list[Node | str] = list(reversed(root.children))
    while stack:
        n = stack.pop()
        if isinstance(n, str):
            t = n.strip()
            if t:
                out.append(t)
        elif n.tag not in ("script", "style"):
            stack.extend(reversed(n.children))
    return "\n".join(out)


# ---------------------------------------------------------------------------
# Shared field helpers (reference Common.py behaviors, DOM side)
# ---------------------------------------------------------------------------

def _content_id(root: Node) -> str | None:
    """``Common.py:205-214``: i.fas.fa-dot-circle parent text, ':'/'#'
    removed, ascii-ignore-stripped."""
    i = root.find("i", class_="fas fa-dot-circle")
    if i is None or i.parent is None:
        return None
    raw = i.parent.text.replace(":", "").replace("#", "")
    return raw.encode("ascii", "ignore").decode().strip()


def _content_format(root: Node) -> str:
    """``Common.py:189-202``: next sibling of i.fas.fa-play-circle; N/A if
    absent or non-ascii."""
    i = root.find("i", class_="fas fa-play-circle")
    if i is None:
        return "N/A"
    sib = i.find_next_sibling()
    if sib is None:
        return "N/A"
    t = sib.text
    return t if t.isascii() else "N/A"


def _fasel_genres(root: Node) -> list[str]:
    """``Common.py:275-285``: hrefs of anchors after i.far.fa-folders,
    last path segment, Python-capitalize."""
    i = root.find("i", class_="far fa-folders")
    if i is None:
        return []
    return [
        a["href"].split("/")[-1].capitalize()
        for a in i.find_next_siblings("a")
        if a.get("href") is not None
    ]


def _akwam_genre_ids(root: Node) -> list[str]:
    """``Common.py:322-332``: badge anchors, href after last '='. Returns raw
    ids; the id→name decode is a Spark-side broadcast join (O9)."""
    tags = root.find_all("a", class_="badge badge-pill badge-light ml-2")
    out = []
    for t in tags:
        href = t.get("href")
        if href is None:
            return []
        out.append(href.split("=")[-1])
    return out


def _last_page_fasel(root: Node) -> int | None:
    """``Common.py:168-181``: » anchor href last path segment, else last
    li.page-item text."""
    btn = root.find("a", string="»")
    if btn is not None and btn.get("href"):
        try:
            return int(btn["href"].split("/")[-1])
        except ValueError:
            return None
    items = root.find_all("li", class_="page-item")
    if items:
        try:
            return int(items[-1].text)
        except ValueError:
            return None
    return None


def _last_page_links(root: Node, offset_from_end: int) -> int | None:
    """``Common.py:302-307`` (akwam, -3) / ``Common.py:335-339`` (hdw, -2)."""
    links = root.find_all("a", class_="page-link")
    try:
        return int(links[-offset_from_end].text)
    except (IndexError, ValueError):
        return None


def _last_page_wecima(root: Node) -> int | None:
    """``WeCimaScraper.py:10-14``: ul.page-numbers, li[-2] text."""
    ul = root.find("ul", class_="page-numbers")
    if ul is None:
        return None
    lis = ul.find_all("li")
    try:
        return int(lis[-2].text)
    except (IndexError, ValueError):
        return None


def _last_page_cimanow(root: Node) -> int | None:
    """``Common.py:388-389``: last ul's last li text."""
    uls = root.find_all("ul")
    try:
        return int(uls[-1].find_all("li")[-1].text)
    except (IndexError, ValueError):
        return None


def _first_iframe_src(root: Node) -> str | None:
    f = root.find("iframe")
    return None if f is None else f.get("src")


_EMPTY_FIELDS = {
    "item_id": None, "title": None, "fmt": None, "genres": None,
    "image_url": None, "iframe_src": None, "short_link_id": None,
    "episode_links": None, "seasons": None, "episode_entries": None,
    "episode_id": None, "episode_number": None, "sources_json": None,
    "next_url": None,
}


def _fields(**kw) -> dict:
    d = dict(_EMPTY_FIELDS)
    d.update(kw)
    return d


# ---------------------------------------------------------------------------
# Per-site page extractors: (root, url) -> (links, cards, fields, last_page)
# ---------------------------------------------------------------------------

def _x_fasel_listing(root: Node, url: str):
    """Fasel listing scan — ``FaselMoviesScraper.py:54-67``: card divs
    ``col-xl-2 col-lg-2 col-md-3 col-sm-3``; each card carries the detail
    href, the display title (div.h1, ``Common.py:267-272``) and the poster
    ``img[data-src]`` (``FaselMoviesScraper.py:43``)."""
    links, cards = [], []
    for div in root.find_all("div", class_="col-xl-2 col-lg-2 col-md-3 col-sm-3"):
        a = div.find("a")
        if a is None or a.get("href") is None:
            continue
        href = a["href"]
        title_div = div.find("div", class_="h1")
        img = div.find("img")
        links.append({"url": href, "role": "detail"})
        cards.append({
            "url": href,
            "item_id": None,
            "title": None if title_div is None else title_div.text,
            "image_url": None if img is None else img.get("data-src"),
            "rating": None,
            "genres": None,
            "season_number": None,
            "source": None,
        })
    return links, cards, None, _last_page_fasel(root)


def _x_fasel_detail(root: Node, url: str):
    """Fasel detail extraction — ``FaselMoviesScraper.py:14-45`` (movies)
    + season grid ``FaselSeriesScraper.py:128`` (series)."""
    seasons = []
    for sdiv in root.find_all("div", class_="col-xl-2 col-lg-3 col-md-6"):
        inner = sdiv.find("div")
        if inner is None or inner.get("data-href") is None:
            continue  # KeyError path FaselSeriesScraper.py:52-55
        title_div = sdiv.find("div", class_="title")
        num = None
        if title_div is not None:
            t = title_div.text.encode("ascii", "ignore").decode().strip().lstrip()
            try:
                num = int(t)
            except ValueError:
                num = None
        seasons.append({"season_id": inner["data-href"], "season_number": num})
    links = [
        {"url": f"https://{_host_from_url(url)}/?p={s['season_id']}", "role": "season"}
        for s in seasons
    ]
    # Anime-style detail pages carry div.epAll DIRECTLY (no seasons):
    # FaselAnimeScraper.py:100-110 lists episode anchors on the detail page
    # and derives each Episode Number from the anchor TEXT
    # (``int(remove_arabic_chars(episode.text).strip())``, line 52).  Movie
    # and series detail pages have no epAll, so capturing it here lets one
    # detail extractor serve all three fasel families.
    entries = []
    ep_div = root.find("div", class_="epAll")
    if ep_div is not None:
        for a in ep_div.find_all("a"):
            href = a.get("href")
            if not href:
                continue
            t = a.text.encode("ascii", "ignore").decode().strip()
            try:
                num = int(t)
            except ValueError:
                num = None
            entries.append({"url": href, "num": num})
            links.append({"url": href, "role": "anime_episode"})
    return links, None, _fields(
        item_id=_content_id(root),
        fmt=_content_format(root),
        genres=_fasel_genres(root),
        iframe_src=_first_iframe_src(root),
        seasons=seasons or None,
        episode_entries=entries or None,
    ), None


def _x_fasel_season(root: Node, url: str):
    """Fasel season page — ``FaselSeriesScraper.py:60-67``: div.epAll anchors."""
    ep_div = root.find("div", class_="epAll")
    eps = [] if ep_div is None else [
        a["href"] for a in ep_div.find_all("a") if a.get("href")
    ]
    links = [{"url": h, "role": "episode"} for h in eps]
    return links, None, _fields(episode_links=eps or None), None


def _x_fasel_episode(root: Node, url: str):
    """Fasel episode page — ``FaselSeriesScraper.py:28-43``: span#liskSh text
    after last '=', first iframe src."""
    span = root.find("span", id="liskSh")
    ep_id = None if span is None else span.text.split("=")[-1]
    return [], None, _fields(
        episode_id=ep_id, iframe_src=_first_iframe_src(root)
    ), None


def _x_fasel_anime_episode(root: Node, url: str):
    """Fasel anime episode page — ``FaselAnimeScraper.py:36-57``: the
    episode is KEYED by its own page's content id (get_content_id of the
    episode soup), and the Source is the RAW first-iframe src (the anime
    scraper does NOT run clean_iframe_source, unlike movies/series)."""
    return [], None, _fields(
        episode_id=_content_id(root),
        iframe_src=_first_iframe_src(root),
    ), None


def _x_fasel_home(root: Node, url: str):
    """Fasel homepage — ``TrendingScraper.py:58-62``: trending blockMovie +
    epDivHome anchors; featured div.h1.mb-1 anchors."""
    links = []
    for div in root.find_all("div", class_="blockMovie") + root.find_all(
        "div", class_="epDivHome"
    ):
        a = div.find("a")
        if a is not None and a.get("href"):
            links.append({"url": a["href"], "role": "trending"})
    for div in root.find_all("div", class_="h1 mb-1"):
        a = div.find("a")
        if a is not None and a.get("href"):
            links.append({"url": a["href"], "role": "featured"})
    return links, None, None, None


def _x_fasel_trending_detail(root: Node, url: str):
    """Trending content page — ``TrendingScraper.py:71-72``: div.h1.title
    text, second line, stripped (cleanups applied Spark-side)."""
    div = root.find("div", class_="h1 title")
    title = None
    if div is not None:
        parts = div.text.split("\n")
        if len(parts) > 1:
            title = parts[1].strip()
    return [], None, _fields(item_id=_content_id(root), title=title), None


def _x_akwam_listing(root: Node, url: str):
    """Akwam listing — ``Common.py:310-319``: a.icn.play hrefs."""
    links = [
        {"url": a["href"], "role": "detail"}
        for a in root.find_all("a", class_="icn play")
        if a.get("href")
    ]
    return links, None, None, _last_page_links(root, 3)


def _x_akwam_detail(root: Node, url: str):
    """Akwam movie/series detail — ``AkwamMoviesScaper.py:17-34`` /
    ``AkwamSeriesScraper.py:60-76``."""
    h1 = root.find(
        "h1", class_="entry-title font-size-28 font-weight-bold text-white mb-0"
    )
    title = None if h1 is None else h1.text.strip()
    img_div = root.find("div", class_="col-lg-3 col-md-4 text-center mb-5 mb-md-0")
    image_url = None
    if img_div is not None:
        a = img_div.find("a")
        if a is not None:
            image_url = a.get("href")
    short = root.find(
        "a", class_="link-btn link-show d-flex align-items-center px-3"
    )
    short_id = None
    if short is not None and short.get("href"):
        short_id = short["href"].split("/")[-1]
    eps = []
    for entry in root.find_all("h2", class_="font-size-18 text-white mb-2"):
        a = entry.find("a")
        if a is not None and a.get("href"):
            eps.append(a["href"])
    links = [{"url": h, "role": "select"} for h in eps]
    return links, None, _fields(
        title=title,
        image_url=image_url,
        genres=_akwam_genre_ids(root),
        short_link_id=short_id,
        episode_links=eps or None,
    ), None


def _x_akwam_select(root: Node, url: str):
    """Akwam episode select page (hop 1/3) — ``AkwamSeriesScraper.py:22-26``."""
    a = root.find("a", class_="link-btn link-show d-flex align-items-center px-3")
    nxt = None if a is None else a.get("href")
    return (
        [{"url": nxt, "role": "shortlink"}] if nxt else [],
        None,
        _fields(next_url=nxt),
        None,
    )


def _x_akwam_shortlink(root: Node, url: str):
    """Akwam short-link page (hop 2/3) — ``AkwamSeriesScraper.py:32-35``."""
    a = root.find("a", class_="download-link")
    nxt = None if a is None else a.get("href")
    return (
        [{"url": nxt, "role": "watch"}] if nxt else [],
        None,
        _fields(next_url=nxt),
        None,
    )


def _x_akwam_watch(root: Node, url: str):
    """Akwam watch page (hop 3/3) — ``AkwamSeriesScraper.py:43-46``: episode
    number from h2 anchor text, ascii-stripped, first line."""
    h2 = root.find("h2", class_="font-size-20 font-weight-bold")
    num = None
    if h2 is not None:
        a = h2.find("a")
        if a is not None:
            t = a.text.encode("ascii", "ignore").decode().strip().split("\n")[0]
            try:
                num = int(t)
            except ValueError:
                num = None
    return [], None, _fields(episode_number=num), None


def _x_hdw_listing(root: Node, url: str):
    """HDW listing — ``HDWMoviesScraper.py:15-44``: div.content-info cards;
    rating/image from the previous-sibling anchor (``Common.py:342-357``)."""
    links, cards = [], []
    for div in root.find_all("div", class_="content-info"):
        a = div.find("a")
        if a is None or a.get("href") is None:
            continue
        href = a["href"]
        span = a.find("span")
        prev_a = div.find_previous_sibling("a")
        image = None
        rating = None
        if prev_a is not None:
            img = prev_a.find("img")
            image = None if img is None else img.get("src")
            rspan = prev_a.find("span", class_="float-left yellow")
            if rspan is not None:
                rating = rspan.text.replace(",", ".").strip()
        views = div.find("span", class_="content-views")
        genres = (
            None
            if views is None
            else [g.strip() for g in views.text.split(", ")]
        )
        # listing-only site: the reference never fetches HDW detail pages
        # (HDWMoviesScraper.py:23-44) — cards ARE the records, no frontier
        # growth beyond pagination.
        cards.append({
            "url": href,
            "item_id": href.split("/")[-2] if len(href.split("/")) >= 2 else None,
            "title": None if span is None else span.text,
            "image_url": image,
            "rating": rating,
            "genres": genres,
            "season_number": None,
            # reference hardcodes https://www.hdwatched.xyz
            # (HDWMoviesScraper.py:34); derived from the page's host here
            "source": f"https://{_host_from_url(url)}/free" + href,
        })
    return links, cards, None, _last_page_links(root, 2)


def _x_wecima_listing(root: Node, url: str):
    """WeCima listing — ``WeCimaScraper.py:20-50``: div.GridItem cards carry
    the whole record (cpd id, title, season, image, source slug)."""
    links, cards = [], []
    for div in root.find_all("div", class_="GridItem"):
        div_id = div.get("cpd")
        a = div.find("a")
        if a is None:
            continue
        href = a.get("href") or ""
        source = href.replace("https://wecima.tube/series/", "")
        season = a.get("title")
        if season is not None:
            season = season.encode("ascii", "ignore").decode().strip()
        strong = div.find("strong", class_="hasyear")
        title = None
        if strong is not None:
            title = strong.text.split("-")[0].strip()
        span = div.find("span", class_="BG--GridItem")
        image = None
        if span is not None and span.get("data-lazy-style"):
            image = (
                span["data-lazy-style"]
                .replace("--image:url(", "")
                .replace(");", "")
            )
        # listing-only site (WeCimaScraper.py:26-50): cards are full records.
        cards.append({
            "url": href,
            "item_id": div_id,
            "title": title,
            "image_url": image,
            "rating": None,
            "genres": None,
            "season_number": season,
            "source": source,
        })
    return links, cards, None, _last_page_wecima(root)


def _x_cimanow_listing(root: Node, url: str):
    """CimaNow listing — ``CimaNowMovieScraper.py:36-49``: section>article
    cards; title = last ul's last li text minus the em genre text."""
    links, cards = [], []
    section = root.find("section")
    if section is not None:
        for card in section.find_all("article"):
            a = card.find("a")
            if a is None or a.get("href") is None:
                continue
            slug = a["href"].split("/")[-2] if len(a["href"].split("/")) >= 2 else ""
            img = card.find("img")
            uls = card.find_all("ul")
            raw_genres = ""
            title = None
            if uls:
                lis = uls[-1].find_all("li")
                if lis:
                    em = lis[-1].find("em")
                    raw_genres = "" if em is None else em.text
                    title = lis[-1].text.replace(raw_genres, "").strip()
            # reference hardcodes https://cimanow.cc/ (CimaNowMovieScraper.py:60);
            # the engine derives it from the page's own host so the same
            # extractor serves any deployment of the site shape
            watch_url = f"https://{_host_from_url(url)}/{slug}/watching"
            links.append({"url": watch_url, "role": "watch"})
            cards.append({
                "url": watch_url,
                "item_id": slug,
                "title": title,
                "image_url": None if img is None else img.get("src"),
                "rating": None,
                "genres": raw_genres.split(" ، ") if raw_genres else None,
                "season_number": None,
                "source": None,
            })
    return links, cards, None, _last_page_cimanow(root)


def _x_cimanow_watch(root: Node, url: str):
    """CimaNow watch page — ``Common.py:392-394``: ul#download first li's
    anchors → [{quality_label: href}] preserved as canonical JSON."""
    import json as _json

    ul = root.find("ul", id="download")
    sources = None
    if ul is not None:
        li = ul.find("li")
        if li is not None:
            sources = [
                {a.text.split()[0]: a["href"]}
                for a in li.find_all("a")
                if a.get("href") and a.text.split()
            ]
    return [], None, _fields(
        sources_json=None if sources is None else _json.dumps(sources)
    ), None


def _host_from_url(url: str) -> str:
    rest = url.split("://", 1)[-1]
    return rest.split("/", 1)[0].split("?", 1)[0].lower()


_DISPATCH = {
    ("fasel", "listing"): _x_fasel_listing,
    ("fasel", "detail"): _x_fasel_detail,
    ("fasel", "season"): _x_fasel_season,
    ("fasel", "episode"): _x_fasel_episode,
    ("fasel", "anime_episode"): _x_fasel_anime_episode,
    ("fasel", "home"): _x_fasel_home,
    ("fasel", "trending"): _x_fasel_trending_detail,
    ("fasel", "featured"): _x_fasel_trending_detail,
    ("akwam", "listing"): _x_akwam_listing,
    ("akwam", "home"): _x_akwam_listing,
    ("akwam", "detail"): _x_akwam_detail,
    ("akwam", "select"): _x_akwam_select,
    ("akwam", "shortlink"): _x_akwam_shortlink,
    ("akwam", "watch"): _x_akwam_watch,
    ("hdw", "listing"): _x_hdw_listing,
    ("wecima", "listing"): _x_wecima_listing,
    ("cimanow", "listing"): _x_cimanow_listing,
    ("cimanow", "watch"): _x_cimanow_watch,
}


def extract_page(url: str, role: str, html: bytes | None):
    """Extract one page. Returns a dict matching EXTRACT_SCHEMA."""
    site = site_of_host(_host_from_url(url))
    row = {
        "url": url, "role": role, "site": site,
        "links": None, "cards": None, "fields": None,
        "last_page": None, "text": None,
    }
    if html is None:
        return row
    root = parse_html(html)
    row["text"] = page_text(root)
    fn = _DISPATCH.get((site, role))
    if fn is None:
        return row
    links, cards, fields, last_page = fn(root, url)
    row["links"] = links or None
    row["cards"] = cards or None
    row["fields"] = fields
    row["last_page"] = last_page
    return row


_EXTRACT_COLS = [
    "url", "role", "site", "links", "cards", "fields", "last_page", "text",
]


def extract_map_in_pandas(
    batches: Iterable[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body: (url, role, html[, ...]) → EXTRACT_SCHEMA rows,
    then every other input column unchanged (append their DDL to the
    schema, as the crawl does).

    Usage::

        fetched.mapInPandas(extract_map_in_pandas, schema=EXTRACT_SCHEMA)
    """
    for pdf in batches:
        rows = [
            extract_page(u, r, h)
            for u, r, h in zip(pdf["url"], pdf["role"], pdf["html"])
        ]
        out = pd.DataFrame(rows, columns=_EXTRACT_COLS)
        for c in pdf.columns:
            if c not in ("url", "role", "html"):
                out[c] = pdf[c]
        yield out
