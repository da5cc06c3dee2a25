"""Seeded bronze corpus generator for the medallion pipeline benchmark.

Both workloads start from a silver warehouse: the 10 silver tables of a
corpus, written under ``<out>/silver`` as flat parquet (with pyarrow), with
the columns and ids BronzeToSilver produces. For ``stream_ingest`` it also
writes a backlog of one JSON document per file under
``<out>/bronze/vnexpress/{topic}/{yyyy}/{MM}/{dd}/{ts}_{uuid}.json`` (the
collector's layout). Next to them go the outputs the pipeline must produce,
computed without Spark:

* ``tally.json``: expected row counts per silver and gold table, the sum of
  interaction counts and of whitespace word counts, plus corpus facts;
* ``expected_articles.jsonl``: per URL, the title of its newest version and
  the author name the generator gave it.

The silver tally replays the pipeline's keyed-upsert semantics (see
``Silver``). The file source takes the backlog in modification-time order,
which the generator stamps, ``MAX_FILES_PER_TRIGGER`` files per micro-batch.

Usage: python3 gen.py --workload daily_load --seed 1 --out DIR
"""

import argparse
import datetime as dt
import hashlib
import json
import os
import random

WORKLOADS = {
    # a backfill-sized silver warehouse (unique URLs) for the gold build
    "daily_load": dict(articles=500, dates=20),
    # a silver warehouse of `warehouse` articles, and a bronze backlog of new
    # articles and re-crawls of warehouse articles for the stream to merge
    "stream_ingest": dict(articles=27, dates=10, invalid=(1, 1, 1),
                          warehouse=150, recrawls=30),
}
MAX_FILES_PER_TRIGGER = 60
MTIME_BASE = 1759276800  # 2025-10-01T00:00:00Z; files are stamped after it
FIRST_DATE = dt.date(2025, 9, 1)
VN = dt.timezone(dt.timedelta(hours=7))

TOPICS = {
    "thoi-su": ["Chính trị", "Dân sinh", "Giao thông", "Môi trường"],
    "the-gioi": ["Tư liệu", "Phân tích", "Người Việt 5 châu"],
    "kinh-doanh": ["Quốc tế", "Doanh nghiệp", "Chứng khoán", "Bất động sản"],
    "giai-tri": ["Giới sao", "Phim", "Nhạc"],
    "the-thao": ["Bóng đá", "Tennis", "Marathon", "Các môn khác"],
    "phap-luat": ["Hồ sơ phá án", "Tư vấn"],
    "giao-duc": ["Tin tức", "Tuyển sinh", "Du học"],
    "suc-khoe": ["Tin tức", "Dinh dưỡng", "Khỏe đẹp"],
}
SURNAMES = ["Nguyễn", "Trần", "Lê", "Phạm", "Hoàng", "Huỳnh", "Phan", "Vũ",
            "Võ", "Đặng", "Bùi", "Đỗ", "Hồ", "Ngô", "Dương", "Lý"]
MIDDLES = ["Văn", "Thị", "Minh", "Hữu", "Thu", "Quốc", "Ngọc", "Đức"]
GIVEN = ["An", "Bình", "Châu", "Dũng", "Giang", "Hà", "Hải", "Hạnh", "Hùng",
         "Khánh", "Lan", "Linh", "Long", "Mai", "Nam", "Nga", "Phong", "Phúc",
         "Quân", "Quỳnh", "Sơn", "Tâm", "Thảo", "Trang", "Tuấn", "Vy"]
WORDS = (
    "người dân thành phố hà nội sài gòn chính phủ quốc hội kinh tế thị "
    "trường doanh nghiệp giá vàng xăng dầu giao thông đường cao tốc sân bay "
    "bệnh viện bác sĩ học sinh giáo viên trường đại học kỳ thi tuyển sinh "
    "bóng đá đội tuyển huấn luyện viên cầu thủ trận đấu mùa giải công an "
    "điều tra vụ án tòa án bị cáo ngân hàng lãi suất tín dụng xuất khẩu nông "
    "sản lúa gạo cà phê du lịch khách sạn mưa bão lũ lụt miền trung nắng nóng "
    "năm nay tháng trước hôm qua sáng nay cho biết theo đó tuy nhiên ngoài ra "
    "đồng thời dự kiến khoảng hơn triệu tỷ đồng phần trăm tăng giảm mạnh nhẹ "
    "ổn định phát triển bền vững dự án công trình nhà ở chung cư đất đai quy "
    "hoạch mới cũ lớn nhỏ nhiều ít đầu tiên cuối cùng quan trọng cần thiết"
).split()
REFERENCES = ["Reuters", "AFP", "AP", "Bloomberg", "BBC", "CNN", "Tuổi Trẻ",
              "Thanh Niên", "Bộ Y tế", "Bộ Tài chính", "Tổng cục Thống kê",
              "Ngân hàng Nhà nước", "Bộ Giáo dục và Đào tạo", "UBND TP HCM",
              "The Guardian", "Nikkei Asia", "Xinhua", "Kyodo", "VTV", "TTXVN"]
INTERACTIONS = ["Thích", "Vui", "Ngạc nhiên", "Buồn", "Phẫn nộ", "Yêu thích"]
WEEKDAYS = ["Thứ hai", "Thứ ba", "Thứ tư", "Thứ năm", "Thứ sáu", "Thứ bảy",
            "Chủ nhật"]


def sha256(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


class Pools:
    """Shared vocabularies: authors, keywords and references recur across
    articles, which is what the silver dedups and gold dims collapse."""

    def __init__(self, rng):
        names = sorted({f"{rng.choice(SURNAMES)} {rng.choice(MIDDLES)} "
                        f"{rng.choice(GIVEN)}" for _ in range(400)})
        rng.shuffle(names)
        self.authors = names[:60]
        self.commenters = names[60:260]
        kws = set()
        while len(kws) < 240:
            n = rng.choice((1, 2, 2, 3))
            kws.add(" ".join(rng.choice(WORDS) for _ in range(n)))
        self.keywords = sorted(kws)
        refs = set(REFERENCES)
        while len(refs) < 60:
            refs.add(f"{rng.choice(REFERENCES)} {rng.choice(GIVEN)}")
        self.references = sorted(refs)


def sentence(rng, lo=6, hi=16):
    ws = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
    return ws[0].capitalize() + " " + " ".join(ws[1:]) + "."


def content(rng, paragraphs):
    # paragraphs split by a blank line: the word count collapses any run of
    # whitespace, so "\n\n" counts the same as one space
    return "\n\n".join(
        " ".join(sentence(rng) for _ in range(rng.randint(2, 5)))
        for _ in range(paragraphs))


def pad(rng, s, p=0.1):
    """Occasional surrounding spaces: the pipeline trims names and texts."""
    return f"  {s} " if rng.random() < p else s


def publish_repr(rng, local):
    """The collector's polymorphic publish_date: VN display, ISO or epoch."""
    r = rng.random()
    if r < 0.5:
        return (f"{WEEKDAYS[local.weekday()]}, {local.day}/{local.month}/"
                f"{local.year}, {local.hour:02d}:{local.minute:02d} (GMT+7)")
    if r < 0.8:
        return local.isoformat()
    epoch = int(local.timestamp())
    return str(epoch * 1000) if r < 0.9 else str(epoch)


def interactions(rng):
    r = rng.random()
    if r < 0.15:
        return None
    if r < 0.2:
        return ""
    kinds = rng.sample(INTERACTIONS, rng.randint(1, 4))
    # a crawler sometimes scrapes a label instead of a number: counts as 0
    return json.dumps({k: (rng.randint(0, 300) if rng.random() > 0.05
                           else "nhiều") for k in kinds}, ensure_ascii=False)


def make_article(rng, pools, i, dates):
    topic = rng.choice(sorted(TOPICS))
    day = FIRST_DATE + dt.timedelta(days=rng.randrange(dates))
    local = dt.datetime(day.year, day.month, day.day, rng.randrange(24),
                        rng.randrange(60), 0, tzinfo=VN)
    n_comments = min(50, int(rng.expovariate(1 / 8)))
    comments = [dict(commenter_name=pad(rng, rng.choice(pools.commenters)),
                     comment_content=f"{sentence(rng, 4, 12)} #{c}",
                     total_likes=rng.randint(0, 500),
                     interaction_details=interactions(rng))
                for c in range(n_comments)]
    kws = rng.sample(pools.keywords, rng.randint(2, 7))
    if rng.random() < 0.2:
        kws.append(pad(rng, kws[0], 1.0))  # same keyword twice in an article
    return dict(
        title=sentence(rng, 6, 12).rstrip("."),
        url=pad(rng, f"https://vnexpress.net/{topic}-{4800000 + i}.html", 0.05),
        author=(pad(rng, rng.choice(pools.authors))
                if rng.random() > 0.04 else None),
        topic=topic,
        sub_topic=pad(rng, rng.choice(TOPICS[topic])),
        publish_date=publish_repr(rng, local),
        description=sentence(rng),
        main_content=content(rng, rng.randint(2, 6)),
        keywords=kws,
        references=rng.sample(pools.references, rng.randint(0, 4)),
        comment_count=n_comments,
        top_comments=comments,
        _local=local,
    )


def recrawl(rng, pools, doc, version):
    """A later crawl of the same URL: new title, comments re-scraped with
    fresh counts, some dropped, some new, maybe one more keyword."""
    new = dict(doc)
    new["title"] = doc["title"].split(" (cập nhật")[0] + f" (cập nhật {version})"
    kept = [dict(c, total_likes=c["total_likes"] + rng.randint(0, 50),
                 interaction_details=interactions(rng))
            for c in doc["top_comments"] if rng.random() > 0.15]
    extra = [dict(commenter_name=rng.choice(pools.commenters),
                  comment_content=f"{sentence(rng, 4, 12)} #v{version}.{c}",
                  total_likes=rng.randint(0, 100),
                  interaction_details=interactions(rng))
             for c in range(rng.randint(1, 6))]
    new["top_comments"] = (kept + extra)[:50]
    new["comment_count"] = len(new["top_comments"])
    if rng.random() < 0.5:
        new["keywords"] = doc["keywords"] + [rng.choice(pools.keywords)]
    new["main_content"] = doc["main_content"] + "\n\n" + sentence(rng)
    return new


def invalid_docs(rng, pools, counts, base_i, dates):
    """Blank URL, unparseable date, malformed JSON: the hygiene gate drops
    all three."""
    blank, baddate, broken = counts
    out = []
    for k in range(blank):
        d = make_article(rng, pools, base_i + k, dates)
        d["url"] = "   "
        out.append(d)
    for k in range(baddate):
        d = make_article(rng, pools, base_i + blank + k, dates)
        d["publish_date"] = "không rõ ngày"
        out.append(d)
    for k in range(broken):
        d = make_article(rng, pools, base_i + blank + baddate + k, dates)
        d["_raw"] = ('{"title": "' + d["title"] + '", "url": "https://vnexp')
        out.append(d)
    return out


def is_valid(doc):
    return (doc.get("_raw") is None and doc["url"].strip(" ") != ""
            and doc["publish_date"] != "không rõ ngày")


class Silver:
    """The 10 silver tables as key -> row, updated batch by batch with the
    pipeline's upsert semantics: a key keeps the row of the last batch that
    carried it, link tables are insert-only, nothing is deleted. Rows carry
    the columns BronzeToSilver writes, so they can also be written out as an
    existing warehouse."""

    def __init__(self):
        self.t = {name: {} for name in SILVER_SCHEMAS}
        self.words = {}  # ArticleID -> whitespace word count of main_content
        self.authors_of = {}  # ArticleID -> author name

    def upsert_batch(self, docs):
        t = self.t
        for d in docs:
            url = d["url"].strip(" ")
            aid = sha256(url)
            author = d["author"].strip(" ") if d["author"] else None
            topic_id = sha256(d["topic"])
            sub = d["sub_topic"].strip(" ")
            sub_id = sha256(f"{sub}||{topic_id}")
            if author:
                t["authors"][author] = dict(AuthorID=sha256(author),
                                            AuthorName=author)
            t["topics"][topic_id] = dict(TopicID=topic_id, TopicName=d["topic"])
            t["subtopics"][sub_id] = dict(SubTopicID=sub_id, SubTopicName=sub,
                                          TopicID=topic_id)
            for k in {k.strip(" ") for k in d["keywords"]}:
                t["keywords"][k] = dict(KeywordID=sha256(k), KeywordText=k)
                t["article_keywords"].setdefault(
                    (aid, k), dict(ArticleID=aid, KeywordID=sha256(k)))
            for r in {r.strip(" ") for r in d["references"]}:
                t["references_table"][r] = dict(ReferenceID=sha256(r),
                                                ReferenceText=r)
                t["article_references"].setdefault(
                    (aid, r), dict(ArticleID=aid, ReferenceID=sha256(r)))
            ts = d["_local"].astimezone(dt.timezone.utc)
            t["articles"][aid] = dict(
                ArticleID=aid, Title=d["title"], URL=url,
                Description=d["description"], PublicationDate=ts,
                MainContent=d["main_content"], OpinionCount=d["comment_count"],
                AuthorID=sha256(author) if author else None, TopicID=topic_id,
                SubTopicID=sub_id, date=ts.date(), hour=ts.hour)
            self.words[aid] = len(d["main_content"].split())
            self.authors_of[aid] = author
            for c in d["top_comments"]:
                name = c["commenter_name"].strip(" ")
                text = c["comment_content"].strip(" ")
                cid = sha256(f"{aid}||{name}||{text}")
                t["comments"][cid] = dict(CommentID=cid, ArticleID=aid,
                                          CommenterName=name, CommentContent=text,
                                          TotalLikes=c["total_likes"])
                if c["interaction_details"]:
                    for k, v in json.loads(c["interaction_details"]).items():
                        t["comment_interactions"][(cid, k)] = dict(
                            CommentInteractionID=sha256(f"{cid}||{k}"),
                            CommentID=cid, InteractionType=k,
                            InteractionCount=v if isinstance(v, int) else 0)

    def tally(self):
        out = {f"silver.{n}": len(rows) for n, rows in self.t.items()}
        out["silver.interaction_count_sum"] = sum(
            r["InteractionCount"] for r in self.t["comment_interactions"].values())
        return out

    def gold_tally(self):
        t = self.t
        arts = t["articles"]
        inter = t["comment_interactions"]
        # interaction facts and the interaction dim key on the lower-cased type
        return {
            "gold.dim_date": len({a["date"] for a in arts.values()}),
            "gold.dim_author": len(t["authors"]) + 1,
            "gold.dim_topic": len(t["topics"]) + 1,
            "gold.dim_sub_topic": len(t["subtopics"]) + 1,
            "gold.dim_keyword": len(t["keywords"]) + 1,
            "gold.dim_reference_source": len(t["references_table"]) + 1,
            "gold.dim_interaction_type":
                len({k.lower() for (_, k) in inter}) + 1,
            "gold.fact_article_publication": len(arts),
            "gold.fact_article_keyword": len(t["article_keywords"]),
            "gold.fact_article_reference": len(t["article_references"]),
            "gold.fact_top_comment_activity": len(t["comments"]),
            "gold.fact_top_comment_interaction_detail": len(
                {(c, k.lower()) for (c, k) in inter}),
            "gold.word_count_sum": sum(self.words.values()),
            "export.vw_articles_flat": len(arts),
        }

    def write(self, warehouse):
        """Write the tables as flat parquet, `articles` partitioned by
        `date`: the layout BronzeToSilver's upserts leave without manifests.
        Returns the bytes written."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        written = 0
        for name, schema in SILVER_SCHEMAS.items():
            rows = list(self.t[name].values())
            groups = {None: rows}
            if name == "articles":
                groups = {}
                for r in rows:
                    groups.setdefault(r["date"], []).append(r)
            for date, part in sorted(groups.items(), key=lambda g: str(g[0])):
                d = os.path.join(warehouse, name)
                if date is not None:
                    d = os.path.join(d, f"date={date.isoformat()}")
                os.makedirs(d, exist_ok=True)
                fields = [(f, ty) for f, ty in schema if f != "date"]
                table = pa.table(
                    {f: pa.array([r[f] for r in part], type=ty) for f, ty in fields})
                path = os.path.join(d, "part-00000.snappy.parquet")
                pq.write_table(table, path, compression="snappy")
                written += os.path.getsize(path)
        return written


def _silver_schemas():
    import pyarrow as pa
    s, i, ts = pa.string(), pa.int32(), pa.timestamp("us", tz="UTC")
    return {
        "authors": [("AuthorID", s), ("AuthorName", s)],
        "topics": [("TopicID", s), ("TopicName", s)],
        "subtopics": [("SubTopicID", s), ("SubTopicName", s), ("TopicID", s)],
        "keywords": [("KeywordID", s), ("KeywordText", s)],
        "references_table": [("ReferenceID", s), ("ReferenceText", s)],
        "articles": [("ArticleID", s), ("Title", s), ("URL", s),
                     ("Description", s), ("PublicationDate", ts),
                     ("MainContent", s), ("OpinionCount", i), ("AuthorID", s),
                     ("TopicID", s), ("SubTopicID", s), ("date", None),
                     ("hour", i)],
        "article_keywords": [("ArticleID", s), ("KeywordID", s)],
        "article_references": [("ArticleID", s), ("ReferenceID", s)],
        "comments": [("CommentID", s), ("ArticleID", s), ("CommenterName", s),
                     ("CommentContent", s), ("TotalLikes", i)],
        "comment_interactions": [("CommentInteractionID", s), ("CommentID", s),
                                 ("InteractionType", s), ("InteractionCount", i)],
    }


SILVER_SCHEMAS = _silver_schemas()


def write_doc(out, rng, doc, mtime, seq):
    crawl = doc["_local"] + dt.timedelta(hours=rng.randint(0, 20))
    rel = (f"vnexpress/{doc['topic']}/{crawl:%Y}/{crawl:%m}/{crawl:%d}/"
           f"{crawl:%Y%m%d%H%M%S}_{rng.getrandbits(64):016x}{seq:05d}.json")
    body = {k: v for k, v in doc.items() if not k.startswith("_")}
    body.update(ingested_at=crawl.isoformat(), year=crawl.year,
                month=crawl.month, day=crawl.day)
    line = doc.get("_raw") or json.dumps(body, ensure_ascii=False)
    path = os.path.join(out, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(line + "\n")
    os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def generate(workload, seed, out):
    """Write the workload's inputs under `out` and return the tally."""
    cfg = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    pools = Pools(rng)
    n, dates = cfg["articles"], cfg["dates"]
    originals = [make_article(rng, pools, i, dates) for i in range(n)]
    silver = Silver()
    if workload == "daily_load":
        silver.upsert_batch(originals)
        tally = {"corpus.bytes": silver.write(os.path.join(out, "silver"))}
        tally.update(silver.gold_tally())
    else:
        # yesterday's warehouse, then the backlog: each URL at most once, so
        # the order of the micro-batches decides nothing the checks see
        base = [make_article(rng, pools, n + 100 + i, dates)
                for i in range(cfg["warehouse"])]
        silver.upsert_batch(base)
        tally = {"corpus.warehouse_bytes": silver.write(os.path.join(out, "silver"))}
        bad = invalid_docs(rng, pools, cfg["invalid"], n, dates)
        files = originals + bad + [
            recrawl(rng, pools, d, 2) for d in rng.sample(base, cfg["recrawls"])]
        rng.shuffle(files)
        batches = -(-len(files) // MAX_FILES_PER_TRIGGER)
        silver.upsert_batch([d for d in files if is_valid(d)])
        bronze = os.path.join(out, "bronze")
        tally["corpus.bytes"] = sum(write_doc(bronze, rng, d, MTIME_BASE + 7 * k, k)
                                    for k, d in enumerate(files))
        tally.update({"corpus.files": len(files), "corpus.invalid": len(bad),
                      "stream.batches": batches})
        tally.update(silver.tally())
    with open(os.path.join(out, "tally.json"), "w") as f:
        json.dump(tally, f, indent=1, sort_keys=True)
    with open(os.path.join(out, "expected_articles.jsonl"), "w",
              encoding="utf-8") as f:
        for aid, a in sorted(silver.t["articles"].items()):
            # an article without author resolves to the UNKNOWN dim row
            f.write(json.dumps(dict(ArticleID=aid, URL=a["URL"], Title=a["Title"],
                                    AuthorName=silver.authors_of[aid] or "UNKNOWN"),
                               ensure_ascii=False) + "\n")
    return tally


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
