"""The stats layer — faithful Spark-SQL ports of the reference's
generated BigQuery queries (StatsCalcPipelineUtils.java), run over our
fact tables instead of BigQuery, WITH the reference's table dependency
chain materialized:

    stattopic (daily)        <- StatsCalcPipelineUtils.java:59-138
    statstoryimpact (daily)  <- :158-216   (cntFb from wrsocialcount)
    statdomainopinions       <- :236-408   (per (Topic, Domain), Basic8)
    statstoryrank            <- :426-482   (reads statstoryimpact, cntFb ranks)
    stattoptopic7d           <- :500-545   (reads stattopic + vwlast7days,
                                            IsTop20Topic, CycleTopicDominance,
                                            IsDominantTopic7d)
    stattopstory7d           <- :554-592   (reads stattoptopic7d + statstoryrank,
                                            rankSocial by cntFb)
    stattoptopic7dsentiment  <- :601-639   (reads stattoptopic7d + stattopic ->
                                            sentiment rows)

plus the two inputs the reference provisions outside the stats job:

    wrsocialcount  <- SocialStatsPipeline.java (Facebook counts per WR).
                      No external API exists here, so counts are DERIVED
                      deterministically from WebResourceHash (two monotone
                      snapshots at +1 and +3 days) — keyed to the real
                      webresource rows so every cntFb join and rank is
                      exercised end to end, and mirrored exactly in the
                      DuckDB oracle.
    vwlast7days    <- bigquery/build_views.sh:33-52 (T-1..T-7 TimeMarker
                      rows off max(webresource.PublicationTime)).

Dialect ports (SURVEY.md §2.10):
  ARRAY_AGG(DISTINCT x)  -> sort_array(collect_set(x))   (order pinned;
                            the reference's ARRAY_AGG is unordered)
  ARRAY_AGG(x)           -> sort_array(collect_list(x))
  STRING_AGG             -> array_join(sort_array(collect_set(...)))
  IF(c,a,b)              -> CASE WHEN
  FORMAT_TIMESTAMP('%Y_%U') -> year + ISO weekofyear (deviation: ISO weeks,
                            identical on both engines)
  UNNEST                 -> LATERAL VIEW explode

Documented deviations from the reference (each needed for deterministic
cross-engine comparison or multi-day recompute):
  * statstoryimpact final join adds SnapshotDateId (the reference INSERTs
    one day at a time, so its DocumentHash-only join is implicitly
    per-day; our full-range recompute must key by day too).
  * statstoryrank s2 LIMIT adds a DocumentHash tie-break.
  * toptopics7dtop20 LIMIT 20 adds a Topic tie-break, and
    Avg/CycleTopicDominance are rounded to 9dp so FP association order
    cannot flip top-20 membership between engines.

Scale notes (100 TB): every join in the chain is an equi-join on
(day, hash/topic/domain) keys — the reference's `PublicationDateId
BETWEEN snapshot-8 AND snapshot` range predicate is re-expressed as an
explode(sequence(pub, pub+8)) on the fact side + equi-join on
SnapshotDateId, so no BroadcastNestedLoop appears anywhere. Daily tables
recompute incrementally per-day via DELETE+INSERT partition overwrite
(plans/stats_incremental.py), exactly like the reference's per-TimeMarker
DELETE+INSERT (StatsCalcPipelineUtils.java:759-833).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataflow_opinion_analysis_spark.schemas import ST_COLUMNS
from dataflow_opinion_analysis_spark.session import materialize

# window widths (reference constants)
IMPACT_WINDOW_DAYS = 8     # statstoryimpact p2 INTERVAL 8 DAY
STORYRANK_LOOKBACK = 45    # statstoryrank s1 INTERVAL 45 DAY
RANK_CUTOFF = 10000        # toptopics2 rankPubdomains < 10000
TOP_STORY_LIMIT = 100000   # statstoryrank s2 LIMIT
# statdomainopinions thresholds (reference: >10 docs, Basic8Score>=30).
# Our Domain is the conversation id (conv:// urls), so fixture-scale
# domains are much smaller than web domains — defaults stay faithful and
# the gate passes explicit values sized to the fixtures.
MIN_DOMAIN_DOCS = 10
MIN_BASIC8 = 30.0
# gate-sized thresholds: conversations cap at 8 turns in the oracle
# fixtures, so no Domain can clear >10 docs, and the fixture text fires
# only the positive/negative lexicon dims (Basic8Score stays at its 0.01
# floor) — the gate exercises the full s1..s7 shape with thresholds the
# fixtures can meet (both engines get the same values, comparison exact)
GATE_MIN_DOMAIN_DOCS = 2
GATE_MIN_BASIC8 = 0.0

ST_LIST = ", ".join(ST_COLUMNS)

# ---------------------------------------------------------------------------
# input views
# ---------------------------------------------------------------------------


def register_views(
    spark: SparkSession,
    document: DataFrame,
    sentiment: DataFrame,
    webresource: DataFrame,
    topic: DataFrame | None = None,
) -> None:
    document.createOrReplaceTempView("document")
    sentiment.createOrReplaceTempView("sentiment")
    webresource.createOrReplaceTempView("webresource")
    if topic is None:
        from dataflow_opinion_analysis_spark.functions import lexicon

        topic = spark.createDataFrame(
            [(t, 1) for t in lexicon.TOPIC_BLOCKLIST], "Topic string, IsBlocked int"
        )
    topic.createOrReplaceTempView("topic")


# deterministic social counts keyed to REAL WebResourceHash rows
# (stand-in for SocialStatsPipeline's Facebook API fetch): two snapshots
# per WR at +1/+3 days with monotone counts derived from the hash.
WRSOCIALCOUNT_SQL = """
SELECT
  WebResourceHash,
  PublicationDateId AS WrPublicationDateId,
  timestampadd(DAY, k, PublicationTime) AS CountTime,
  DocumentCollectionId,
  CollectionItemId,
  cast((pmod(cast(conv(substr(sha2(WebResourceHash, 256), 1, 6), 16, 10) AS bigint), 500) + 1) * k AS int) AS FbCount,
  cast(pmod(cast(conv(substr(sha2(WebResourceHash, 256), 7, 6), 16, 10) AS bigint), 300) * k AS int) AS TwCount
FROM webresource
LATERAL VIEW explode(array(1, 3)) t AS k
"""

# T-1..T-7 TimeMarker rows (bigquery/build_views.sh vwlast7days)
VWLAST7DAYS_SQL = """
SELECT
  cast(date_format(date_sub(LastDate, k), 'yyyyMMdd') AS int) AS DateId,
  concat('T-', cast(k AS string))                             AS TimeMarker,
  date_sub(LastDate, k)                                       AS DateAsDate
FROM (SELECT max(cast(PublicationTime AS date)) AS LastDate FROM webresource)
LATERAL VIEW explode(sequence(1, 7)) t AS k
"""

# default daily-snapshot parameter set: every day in the document range
# (the reference's fromDate/toDate mode generates exactly this list,
# StatsCalcPipelineUtils.java:784-823)
P_ALL_DAYS_SQL = """
SELECT cast(date_format(d, 'yyyyMMdd') AS int) AS SnapshotDateId
FROM (SELECT explode(sequence(to_date(min(PublicationTime)),
                              to_date(max(PublicationTime)),
                              interval 1 day)) AS d
      FROM document)
"""


# ---------------------------------------------------------------------------
# stattopic (daily) — single + combi topics (StatsCalcPipelineUtils.java:59-138)
# ---------------------------------------------------------------------------
# SentimentTags is read by BOTH SentimentTagCombos and CalcStatSentiments
# (Catalyst inlines a multi-referenced CTE once per reference), so it is
# the staged head: staged_df materializes it once behind a checkpoint.
def _stattopic_head_sql(p_sql: str) -> str:
    return f"""
WITH p AS ({p_sql})
SELECT p.SnapshotDateId, s.SentimentHash, t.Tag, t.GoodAsTopic, s.Tags AS Tags
FROM p JOIN sentiment s ON s.DocumentDateId = p.SnapshotDateId
LATERAL VIEW explode(s.Tags) tt AS t
WHERE s.SentimentTotalScore > 0
"""


def _stattopic_tail_sql(st: str) -> str:
    return f"""SentimentTagCombos AS (
  SELECT st.SnapshotDateId, st.SentimentHash, st.Tag AS Tag1, stt.Tag AS Tag2
  FROM {st} st LATERAL VIEW explode(st.Tags) x AS stt
  WHERE st.Tag < stt.Tag
),
CalcStatSentiments AS (
  SELECT st.SnapshotDateId, st.Tag, st.GoodAsTopic, d.DocumentHash, s.SentimentHash,
         wrOrig.WebResourceHash AS OrigWebResourceHash, wrOrig.Domain AS OrigDomain,
         wrRepost.WebResourceHash AS RepostWebResourceHash,
         s.DominantValence AS Valence
  FROM {st} st
  JOIN sentiment s ON s.SentimentHash = st.SentimentHash AND s.DocumentDateId = st.SnapshotDateId
  JOIN document d ON d.DocumentHash = s.DocumentHash AND d.PublicationDateId = st.SnapshotDateId
  JOIN webresource wrOrig ON wrOrig.WebResourceHash = d.MainWebResourceHash
  JOIN webresource wrRepost ON wrRepost.DocumentHash = d.DocumentHash
),
CalcStatTopics AS (
  -- count(DISTINCT x) spelled size(collect_set(x)): identical value
  -- (both skip NULLs; cast restores the BIGINT type) but all six
  -- distinct counts ride the ONE hash aggregate that already builds
  -- the collect_set arrays below — the count(DISTINCT) form planned an
  -- Expand that replicated every input row 7x before the shuffle
  SELECT SnapshotDateId, Tag AS Topic, array(Tag) AS Tags, GoodAsTopic, 1 AS TagCount,
    cast(size(collect_set(OrigDomain)) AS bigint)            AS cntOrigPublishers,
    cast(size(collect_set(RepostWebResourceHash)) AS bigint) AS cntRepostWRs,
    cast(size(collect_set(CASE WHEN Valence = 1 THEN SentimentHash END)) AS bigint) AS cntPositives,
    cast(size(collect_set(CASE WHEN Valence = 2 THEN SentimentHash END)) AS bigint) AS cntNegatives,
    cast(size(collect_set(CASE WHEN Valence = 3 THEN SentimentHash END)) AS bigint) AS cntAmbiguous,
    cast(size(collect_set(CASE WHEN Valence = 5 THEN SentimentHash END)) AS bigint) AS cntGeneral,
    sort_array(collect_set(SentimentHash))       AS SentimentHashes,
    sort_array(collect_set(OrigWebResourceHash)) AS OrigWebResourceHashes,
    sort_array(collect_set(RepostWebResourceHash)) AS RepostWebResourceHashes
  FROM CalcStatSentiments
  GROUP BY SnapshotDateId, Tag, GoodAsTopic
),
CalcStatCombiTopics AS (
  SELECT stc.SnapshotDateId, concat(stc.Tag1, ' & ', stc.Tag2) AS Topic,
         array(stc.Tag1, stc.Tag2) AS Tags, true AS GoodAsTopic, 2 AS TagCount,
    cast(size(collect_set(wrOrig.Domain)) AS bigint)            AS cntOrigPublishers,
    cast(size(collect_set(wrRepost.WebResourceHash)) AS bigint) AS cntRepostWRs,
    cast(size(collect_set(CASE WHEN s.DominantValence = 1 THEN s.SentimentHash END)) AS bigint) AS cntPositives,
    cast(size(collect_set(CASE WHEN s.DominantValence = 2 THEN s.SentimentHash END)) AS bigint) AS cntNegatives,
    cast(size(collect_set(CASE WHEN s.DominantValence = 3 THEN s.SentimentHash END)) AS bigint) AS cntAmbiguous,
    cast(size(collect_set(CASE WHEN s.DominantValence = 5 THEN s.SentimentHash END)) AS bigint) AS cntGeneral,
    sort_array(collect_set(s.SentimentHash))        AS SentimentHashes,
    sort_array(collect_set(wrOrig.WebResourceHash)) AS OrigWebResourceHashes,
    sort_array(collect_set(wrRepost.WebResourceHash)) AS RepostWebResourceHashes
  FROM SentimentTagCombos stc
  JOIN sentiment s ON s.SentimentHash = stc.SentimentHash AND s.DocumentDateId = stc.SnapshotDateId
  JOIN document d ON d.DocumentHash = s.DocumentHash AND d.PublicationDateId = stc.SnapshotDateId
  JOIN webresource wrOrig ON wrOrig.WebResourceHash = d.MainWebResourceHash
  JOIN webresource wrRepost ON wrRepost.DocumentHash = d.DocumentHash
  GROUP BY stc.SnapshotDateId, stc.Tag1, stc.Tag2
),
CalcStatAllTopics AS (
  SELECT * FROM CalcStatTopics      WHERE GoodAsTopic = true AND cntRepostWRs > 1
  UNION ALL
  SELECT * FROM CalcStatCombiTopics WHERE GoodAsTopic = true AND cntRepostWRs > 1
)
SELECT SnapshotDateId, Topic, Tags, TagCount, cntOrigPublishers, cntRepostWRs,
       cntPositives, cntNegatives, cntAmbiguous, cntGeneral,
       SentimentHashes, OrigWebResourceHashes, RepostWebResourceHashes
FROM CalcStatAllTopics
"""


# ---------------------------------------------------------------------------
# statstoryimpact (daily) — trailing-8-day doc window + wrsocialcount cntFb
# (:158-216). The day-range predicate is an explode(sequence) equi-join.
# ---------------------------------------------------------------------------
# s1 is read by BOTH s2 and s3 (Catalyst re-expands it per reference), so
# it is the staged head, as in stattopic.
def _statstoryimpact_head_sql(p_sql: str) -> str:
    return f"""
WITH p AS ({p_sql}),
s1x AS (
  SELECT cast(date_format(sd, 'yyyyMMdd') AS int) AS SnapshotDateId,
         d.DocumentHash, d.DocumentCollectionId, d.CollectionItemId
  FROM document d
  LATERAL VIEW explode(sequence(to_date(d.PublicationTime),
                                date_add(to_date(d.PublicationTime), {IMPACT_WINDOW_DAYS}),
                                interval 1 day)) t AS sd
)
SELECT s1x.* FROM s1x JOIN p ON p.SnapshotDateId = s1x.SnapshotDateId
"""


def _statstoryimpact_tail_sql(s1: str) -> str:
    return f"""s2 AS (
  SELECT s1.SnapshotDateId, s1.DocumentHash, s1.DocumentCollectionId, s1.CollectionItemId,
    cast(size(collect_set(w.WebResourceHash)) AS bigint) AS cntWRs,
    cast(size(collect_set(w.Domain)) AS bigint)          AS cntDomains,
    sort_array(collect_list(w.Domain))  AS Domains,
    sort_array(collect_list(w.Url))     AS Urls
  FROM {s1} s1 JOIN webresource w
    ON w.DocumentHash = s1.DocumentHash
   AND w.PublicationDateId <= s1.SnapshotDateId
  GROUP BY 1, 2, 3, 4
),
s3 AS (
  SELECT s1.SnapshotDateId, s1.DocumentHash, s1.DocumentCollectionId, s1.CollectionItemId,
         w.WebResourceHash, max(sc.FbCount) AS cntFb
  FROM {s1} s1
  JOIN webresource w ON w.DocumentHash = s1.DocumentHash
  LEFT JOIN wrsocialcount sc
    ON sc.WebResourceHash = w.WebResourceHash
   AND cast(date_format(cast(sc.CountTime AS date), 'yyyyMMdd') AS int) <= s1.SnapshotDateId
  GROUP BY 1, 2, 3, 4, 5
),
s4 AS (
  SELECT SnapshotDateId, DocumentHash, DocumentCollectionId, CollectionItemId,
         sum(cntFb) AS cntFb
  FROM s3 GROUP BY 1, 2, 3, 4
)
SELECT s2.SnapshotDateId, s2.DocumentHash, s2.DocumentCollectionId, s2.CollectionItemId,
       s2.cntWRs, s2.cntDomains, s4.cntFb, s2.Domains, s2.Urls
FROM s2 JOIN s4
  ON s4.DocumentHash = s2.DocumentHash AND s4.SnapshotDateId = s2.SnapshotDateId
"""


# ---------------------------------------------------------------------------
# statdomainopinions — per (Topic, Domain) Basic8 profile (:236-408)
# ---------------------------------------------------------------------------
# s3 is read by BOTH s4 and s6 (Catalyst re-expands the whole
# s1/s1a/s2/s3 chain per reference — probed at 2x the table's cost), so
# the s1..s3 chain is the staged head, as in stattopic.
_SDO_WEEK = "concat(cast(year(PublicationTime) AS string), '_', lpad(cast(weekofyear(PublicationTime) AS string), 2, '0'))"
_SDO_EMO8 = ["StJoy", "StAcceptance", "StFear", "StSurprise", "StSadness", "StDisgust", "StAnger", "StAnticipation"]

_SDO_ST_SUMS = ",\n    ".join(f"sum({c}) AS {c}" for c in ST_COLUMNS)
_SDO_EMO_RATIO = ",\n    ".join(f"round({c} / Basic8Score, 2) AS {c}" for c in _SDO_EMO8)
_SDO_EMO_STATS = ",\n    ".join(
    f"round(avg({c}), 2) AS MeanSt{c[2:]},\n    round(coalesce(stddev_pop({c}), 0.0), 2) AS StdevSt{c[2:]}"
    for c in _SDO_EMO8
)


def _sdo_head_sql(min_docs: int) -> str:
    return f"""
WITH s1 AS (
  SELECT wr.Domain, count(DISTINCT DocumentHash) AS cntDocs
  FROM webresource wr
  GROUP BY 1 HAVING count(DISTINCT DocumentHash) > {min_docs}
),
-- partitionless rank: runs over the PER-DOMAIN aggregate, whose
-- cardinality is the domain dimension (~10^6-10^8 on the full web), not
-- the corpus — a single WindowExec partition of narrow (Domain, bigint)
-- rows stays small at any corpus size. If the ranked dimension itself
-- were unbounded, replace with order-statistic thresholds: rank() <= K
-- over (ORDER BY cntDocs DESC) is exactly cntDocs >= the K-th-largest
-- cntDocs (ties included), computable from ORDER BY/LIMIT K
-- (TakeOrderedAndProject) — the restructure tpch_top_customers applies
-- (operators/events_ops.py) to its SF-scaling customer dimension.
s1a AS (
  SELECT Domain, cntDocs, rank() OVER (ORDER BY cntDocs DESC) AS DomainRank
  FROM s1
),
s2 AS (
  SELECT
    wr.PublicationTime, wr.Domain, wr.Author,
    CASE WHEN s1a.DomainRank <= 50  THEN 1 ELSE 0 END AS IsTop50Domain,
    CASE WHEN s1a.DomainRank <= 500 THEN 1 ELSE 0 END AS IsTop500Domain,
    transform(filter(s.Tags, tg -> tg.GoodAsTopic = true), tg -> tg.Tag) AS TopicArray,
    s.SentimentTotalScore, s.DominantValence AS Valence,
    {ST_LIST}
  FROM sentiment s
  JOIN webresource wr ON wr.DocumentHash = s.DocumentHash
  JOIN s1a ON s1a.Domain = wr.Domain
)
SELECT
    {_SDO_WEEK} AS PubWeek,
    Domain, IsTop50Domain, IsTop500Domain, ta AS Topic,
    sum(CASE WHEN Valence = 1 THEN 1 ELSE 0 END) AS cntPositives,
    sum(CASE WHEN Valence = 2 THEN 1 ELSE 0 END) AS cntNegatives,
    sum(CASE WHEN Valence = 3 THEN 1 ELSE 0 END) AS cntAmbiguous,
    sum(CASE WHEN Valence = 5 THEN 1 ELSE 0 END) AS cntGeneral,
    count(1) AS cntTotalMentions,
    {_SDO_ST_SUMS},
    greatest(cast(sum(StJoy + StAcceptance + StFear + StSurprise + StSadness + StDisgust + StAnger + StAnticipation) AS double), 0.01) AS Basic8Score,
    greatest(cast(sum(StJoy + StAcceptance + StSurprise + StAnticipation) AS double), 0.01) AS Positive4Score,
    greatest(cast(sum(StFear + StSadness + StDisgust + StAnger) AS double), 0.01)           AS Negative4Score
  FROM s2 LATERAL VIEW explode(s2.TopicArray) tt AS ta
  WHERE ta NOT IN (SELECT tp.Topic FROM topic tp WHERE tp.IsBlocked = 1)
  GROUP BY 1, 2, 3, 4, 5
"""


def _sdo_tail_sql(s3: str, min_basic8: float) -> str:
    return f"""s4 AS (
  SELECT Domain, Topic, sum(cntTotalMentions) AS cntTotalMentions
  FROM {s3} s3 GROUP BY 1, 2
),
s5 AS (
  SELECT Domain, Topic, cntTotalMentions,
    rank() OVER (PARTITION BY Domain ORDER BY cntTotalMentions DESC, length(Topic) DESC, Topic) AS DomainTopicRank
  FROM s4
),
s6 AS (
  SELECT
    s3.PubWeek, s3.Domain, s3.IsTop50Domain, s3.IsTop500Domain, s3.Topic,
    s5.DomainTopicRank,
    CASE WHEN s5.DomainTopicRank <= 20  THEN 1 ELSE 0 END AS IsTop20DomainTopic,
    CASE WHEN s5.DomainTopicRank <= 100 THEN 1 ELSE 0 END AS IsTop100DomainTopic,
    s3.cntPositives, s3.cntNegatives, s3.cntAmbiguous, s3.cntGeneral,
    s3.cntTotalMentions, s3.Basic8Score,
    cast(s3.cntPositives - s3.cntNegatives AS double) / greatest(cast(s3.cntTotalMentions AS double), 1.0) AS SentimentRatio,
    round((s3.Positive4Score - s3.Negative4Score) / s3.Basic8Score, 2) AS Basic8Ratio,
    {_SDO_EMO_RATIO}
  FROM {s3} s3 JOIN s5 ON s5.Domain = s3.Domain AND s5.Topic = s3.Topic
),
s7 AS (
  SELECT
    Topic, Domain,
    max(IsTop50Domain)  AS IsTop50Domain,
    max(IsTop500Domain) AS IsTop500Domain,
    min(DomainTopicRank) AS DomainTopicRank,
    max(IsTop20DomainTopic)  AS IsTop20DomainTopic,
    max(IsTop100DomainTopic) AS IsTop100DomainTopic,
    sum(cntTotalMentions) AS cntTotalMentions,
    round(sum(Basic8Score), 2) AS Basic8Score,
    round(avg(Basic8Ratio), 2) AS MeanBasic8Ratio,
    round(coalesce(stddev_pop(Basic8Ratio), 0.0), 2) AS StdevBasic8Ratio,
    {_SDO_EMO_STATS},
    round(avg(SentimentRatio), 2) AS MeanSentimentRatio,
    round(coalesce(stddev_pop(SentimentRatio), 0.0), 2) AS StdevSentimentRatio
  FROM s6 GROUP BY 1, 2
)
SELECT * FROM s7 WHERE Basic8Score >= {min_basic8}
"""


# ---------------------------------------------------------------------------
# statstoryrank — latest-snapshot impact + cntFb ranks (:426-482)
# ---------------------------------------------------------------------------
# s1 is read by BOTH s2 and s3, so it is the staged head, as in stattopic.
_STORYRANK_HEAD_SQL = f"""
SELECT d.PublicationDateId, d.DocumentHash,
       date_format(d.PublicationTime, 'yyyy_MM') AS PubMonth,
       concat(cast(year(d.PublicationTime) AS string), '_',
              lpad(cast(weekofyear(d.PublicationTime) AS string), 2, '0')) AS PubWeek,
       substring(wrOrig.Title, 1, 1000) AS Title,
       wrOrig.Url, wrOrig.Domain, wrOrig.Author
FROM document d
JOIN webresource wrOrig ON wrOrig.WebResourceHash = d.MainWebResourceHash
WHERE cast(d.PublicationTime AS date) >=
      date_sub((SELECT v.DateAsDate FROM vwlast7days v WHERE v.TimeMarker = 'T-1'), {STORYRANK_LOOKBACK})
"""


def _storyrank_tail_sql(s1: str) -> str:
    return f"""s2 AS (
  SELECT s1.DocumentHash, max(impact.SnapshotDateId) AS LatestStatsDateId
  FROM {s1} s1 JOIN statstoryimpact impact ON impact.DocumentHash = s1.DocumentHash
  GROUP BY s1.DocumentHash
  ORDER BY max(impact.cntFb + impact.cntWRs) DESC, s1.DocumentHash
  LIMIT {TOP_STORY_LIMIT}
),
s3 AS (
  SELECT s1.DocumentHash, s1.PublicationDateId, s1.PubMonth, s1.PubWeek,
         s1.Title, s1.Url, s1.Domain, s1.Author,
    rank() OVER (PARTITION BY s1.PubWeek  ORDER BY impact.cntFb DESC NULLS LAST, impact.cntWRs DESC) AS rankWeekly,
    rank() OVER (PARTITION BY s1.PubMonth ORDER BY impact.cntFb DESC NULLS LAST, impact.cntWRs DESC) AS rankMonthly,
    impact.cntWRs, impact.cntDomains, impact.cntFb,
    array_join(impact.Domains, ',') AS Domains,
    array_join(impact.Urls, ',')    AS Urls
  FROM {s1} s1
  JOIN s2 ON s2.DocumentHash = s1.DocumentHash
  JOIN statstoryimpact impact
    ON impact.DocumentHash = s2.DocumentHash AND impact.SnapshotDateId = s2.LatestStatsDateId
)
SELECT * FROM s3
"""


# ---------------------------------------------------------------------------
# stattoptopic7d — dominance logic over stattopic x vwlast7days (:500-545)
# ---------------------------------------------------------------------------
STATTOPTOPIC7D_SQL = f"""
WITH toptopics1 AS (
  SELECT st.SnapshotDateId, st.Topic, st.Tags, st.TagCount,
         st.cntOrigPublishers, st.cntRepostWRs,
         st.cntPositives, st.cntNegatives, st.cntAmbiguous, st.cntGeneral,
         st.OrigWebResourceHashes, st.RepostWebResourceHashes,
         cast(st.cntPositives - st.cntNegatives AS double)
           / greatest(cast(st.cntPositives + st.cntNegatives + st.cntAmbiguous + st.cntGeneral AS double), 1.0) AS SentimentRatio,
         rank() OVER (PARTITION BY st.SnapshotDateId
                      ORDER BY st.cntOrigPublishers DESC, st.cntRepostWRs DESC, st.TagCount DESC, st.Topic) AS rankPubdomains,
         last7days.TimeMarker
  FROM stattopic st
  JOIN vwlast7days last7days ON st.SnapshotDateId = last7days.DateId
  WHERE st.Topic NOT IN (SELECT tp.Topic FROM topic tp WHERE tp.IsBlocked = 1)
),
toptopics2 AS (
  SELECT toptopics1.*, CASE WHEN rankPubdomains <= 20 THEN 1 ELSE 0 END AS IsTop20Topic
  FROM toptopics1 WHERE rankPubdomains < {RANK_CUTOFF}
),
toptopics7d AS (
  SELECT Topic,
    min(CASE WHEN IsTop20Topic = 1 THEN TimeMarker END) AS LatestTimeMarker,
    sum(IsTop20Topic) AS NumInTop20,
    round(avg(1 / ln(rankPubdomains + 1)), 9) AS AvgTopicDominance,
    round(sum(IsTop20Topic) * round(avg(1 / ln(rankPubdomains + 1)), 9), 9) AS CycleTopicDominance
  FROM toptopics2 GROUP BY Topic
),
toptopics7dtop20 AS (
  SELECT * FROM toptopics7d ORDER BY CycleTopicDominance DESC, Topic LIMIT 20
),
toptopics3 AS (
  SELECT t2.*, CASE WHEN t20.Topic IS NOT NULL THEN 1 ELSE 0 END AS IsDominantTopic7d
  FROM toptopics2 t2
  LEFT JOIN toptopics7dtop20 t20 ON t2.Topic = t20.Topic
)
SELECT SnapshotDateId, Topic, Tags, TagCount, cntOrigPublishers, cntRepostWRs,
       cntPositives, cntNegatives, cntAmbiguous, cntGeneral,
       OrigWebResourceHashes, RepostWebResourceHashes,
       SentimentRatio, rankPubdomains, TimeMarker, IsTop20Topic, IsDominantTopic7d
FROM toptopics3 t
WHERE t.rankPubdomains < 100 OR t.IsTop20Topic = 1 OR t.IsDominantTopic7d = 1
"""

# ---------------------------------------------------------------------------
# stattopstory7d — rankSocial (cntFb) over top-20-topic origin WRs (:554-592)
# ---------------------------------------------------------------------------
STATTOPSTORY7D_SQL = """
WITH s1 AS (
  SELECT t.SnapshotDateId, origs AS WebResourceHash,
         sort_array(collect_set(tag_item)) AS Tags
  FROM stattoptopic7d t
  LATERAL VIEW explode(t.OrigWebResourceHashes) o AS origs
  LATERAL VIEW explode(t.Tags) g AS tag_item
  WHERE t.IsTop20Topic = 1
  GROUP BY 1, 2
),
s2 AS (
  SELECT s1.SnapshotDateId, s1.WebResourceHash, s1.Tags,
         si.Title, si.Url, si.cntDomains, si.cntFb,
    rank() OVER (PARTITION BY s1.SnapshotDateId
                 ORDER BY si.cntFb DESC NULLS LAST, si.cntDomains DESC) AS rankSocial
  FROM s1
  JOIN webresource wr ON wr.WebResourceHash = s1.WebResourceHash
  JOIN statstoryrank si ON si.DocumentHash = wr.DocumentHash
),
s3 AS (
  SELECT SnapshotDateId, WebResourceHash, substring(Title, 1, 1000) AS Title, Url,
         cntDomains, cntFb, rankSocial,
         CASE WHEN rankSocial <= 10 THEN 1 ELSE 0 END AS IsTop10Story,
         array_join(sort_array(collect_set(tag_item)), ',') AS Tags
  FROM s2 LATERAL VIEW explode(s2.Tags) g AS tag_item
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
)
SELECT * FROM s3
"""

# ---------------------------------------------------------------------------
# stattoptopic7dsentiment — sentiment rows of top topics (:601-639)
# ---------------------------------------------------------------------------
STATTOPTOPIC7DSENTIMENT_SQL = f"""
SELECT
  e.SnapshotDateId, e.TimeMarker, e.Topic, s.SentimentTotalScore,
  CASE s.DominantValence WHEN 1 THEN 'Positive' WHEN 2 THEN 'Negative'
       WHEN 3 THEN 'Ambiguous' WHEN 5 THEN 'General' ELSE 'Unknown' END AS DominantValence,
  s.Text, s.AnnotatedText, s.AnnotatedHtml,
  {", ".join("s." + c for c in ST_COLUMNS)},
  substring(wr.Title, 1, 1000) AS Title, wr.Url, wr.Domain, wr.Author,
  e.IsTop20Topic, e.IsDominantTopic7d
FROM (
  SELECT t.SnapshotDateId, t.TimeMarker, t.Topic, t.IsTop20Topic, t.IsDominantTopic7d, sh
  FROM stattoptopic7d t
  JOIN stattopic st ON st.SnapshotDateId = t.SnapshotDateId AND st.Topic = t.Topic
  LATERAL VIEW explode(st.SentimentHashes) x AS sh
) e
JOIN sentiment s ON s.SentimentHash = e.sh
JOIN webresource wr ON wr.WebResourceHash = s.MainWebResourceHash
"""

# ---------------------------------------------------------------------------
# vwsentiment4search7d — the presentation view a search UI queries
# (bigquery/build_views.sh:57-73): sentiment x vwlast7days x webresource,
# Topic = top-3 tags ORDER BY GoodAsTopic (ascending, the reference's
# literal ORDER BY — false sorts first) joined with " & ", valence decode
# (StatsCalcPipelineUtils.java:621 codes), SUBSTR(Title,0,1000).
# The top-3 selection is a STABLE sort by GoodAsTopic keeping the Tags
# array's rank order (filter-concat), mirrored in DuckDB as
# ORDER BY (good_as_topic, rk).
# ---------------------------------------------------------------------------
VWSENTIMENT4SEARCH7D_SQL = f"""
SELECT
  s.DocumentDateId AS SnapshotDateId, l7.TimeMarker,
  array_join(transform(slice(concat(
      filter(s.Tags, tg -> NOT tg.GoodAsTopic),
      filter(s.Tags, tg -> tg.GoodAsTopic)), 1, 3), tg -> tg.Tag), ' & ') AS Topic,
  s.SentimentTotalScore,
  CASE s.DominantValence WHEN 1 THEN 'Positive' WHEN 2 THEN 'Negative'
       WHEN 3 THEN 'Ambiguous' WHEN 5 THEN 'General' ELSE 'Unknown' END AS DominantValence,
  s.Text, s.AnnotatedText, s.AnnotatedHtml,
  {", ".join("s." + c for c in ST_COLUMNS)},
  substring(wr.Title, 1, 1000) AS Title, wr.Url, wr.Domain, wr.Author
FROM sentiment s
JOIN vwlast7days l7 ON s.DocumentDateId = l7.DateId
JOIN webresource wr ON wr.WebResourceHash = s.MainWebResourceHash
"""

# the remaining vw* views are SELECT * shells over their stat tables
# (build_views.sh:52-93; vwdomainopinions' ORDER BY is presentation-only)
VW_SHELLS = {
    "vwdomainopinions": "SELECT * FROM statdomainopinions ORDER BY MeanBasic8Ratio ASC",
    "vwstoryrank": "SELECT * FROM statstoryrank",
    "vwtoptopic7d": "SELECT * FROM stattoptopic7d",
    "vwtopstory7d": "SELECT * FROM stattopstory7d",
    "vwtoptopic7dsentiment": "SELECT * FROM stattoptopic7dsentiment",
}

# dependency order: a table's SQL reads the views of the tables before it
STATS_ORDER = [
    "wrsocialcount",
    "vwlast7days",
    "stattopic",
    "statstoryimpact",
    "statdomainopinions",
    "statstoryrank",
    "stattoptopic7d",
    "stattopstory7d",
    "stattoptopic7dsentiment",
    "vwsentiment4search7d",
]

# the tables rendered as one SQL text; the other four are staged_df's
_SQL = {
    "wrsocialcount": WRSOCIALCOUNT_SQL,
    "vwlast7days": VWLAST7DAYS_SQL,
    "stattoptopic7d": STATTOPTOPIC7D_SQL,
    "stattopstory7d": STATTOPSTORY7D_SQL,
    "stattoptopic7dsentiment": STATTOPTOPIC7DSENTIMENT_SQL,
    "vwsentiment4search7d": VWSENTIMENT4SEARCH7D_SQL,
}


def staged_df(spark: SparkSession, name: str, p_sql: str = P_ALL_DAYS_SQL,
              min_docs: int = MIN_DOMAIN_DOCS,
              min_basic8: float = MIN_BASIC8) -> DataFrame:
    """One of the four tables whose SQL reads an expensive CTE more than
    once (Catalyst re-expands a CTE once per reference): its head — that
    CTE — is materialized once in the "scratch" role as the view
    ``_<name>_head``, and its tail reads the view. ``p_sql`` lists the
    snapshot days of the two daily tables (all days by default;
    stats_incremental passes one refresh's days)."""
    if name == "stattopic":
        head, tail = _stattopic_head_sql(p_sql), _stattopic_tail_sql
    elif name == "statstoryimpact":
        head, tail = _statstoryimpact_head_sql(p_sql), _statstoryimpact_tail_sql
    elif name == "statdomainopinions":
        head, tail = _sdo_head_sql(min_docs), lambda s3: _sdo_tail_sql(s3, min_basic8)
    elif name == "statstoryrank":
        head, tail = _STORYRANK_HEAD_SQL, _storyrank_tail_sql
    else:
        raise KeyError(name)
    view = f"_{name}_head"
    materialize(spark.sql(head), "scratch").createOrReplaceTempView(view)
    return spark.sql(f"WITH {tail(view)}")


def stats_df(spark: SparkSession, name: str,
             domainopinions_min_docs: int = MIN_DOMAIN_DOCS,
             domainopinions_min_basic8: float = MIN_BASIC8) -> DataFrame:
    """DataFrame builder for one stats table: ``spark.sql`` of its text,
    or ``staged_df`` for the four staged tables."""
    if name in _SQL:
        return spark.sql(_SQL[name])
    return staged_df(spark, name, min_docs=domainopinions_min_docs,
                     min_basic8=domainopinions_min_basic8)


# gate projections over the materialized views — arrays stringified
# (both sides build them pre-sorted), column names identical to the
# DuckDB mirrors in oracles_stats.GATE_SELECTS
GATE_SELECTS_SPARK: dict[str, str] = {
    "wrsocialcount_derived": """
SELECT WebResourceHash, WrPublicationDateId, CountTime,
       DocumentCollectionId, CollectionItemId, FbCount, TwCount
FROM wrsocialcount
""",
    "stattopic": """
SELECT SnapshotDateId, Topic, array_join(Tags, ',') AS TagsStr, TagCount,
       cntOrigPublishers, cntRepostWRs, cntPositives, cntNegatives, cntAmbiguous, cntGeneral,
       array_join(SentimentHashes, ',')       AS SentimentHashesStr,
       array_join(OrigWebResourceHashes, ',') AS OrigWebResourceHashesStr,
       array_join(RepostWebResourceHashes, ',') AS RepostWebResourceHashesStr
FROM stattopic
""",
    "statstoryimpact": """
SELECT SnapshotDateId, DocumentHash, DocumentCollectionId, CollectionItemId,
       cntWRs, cntDomains, cntFb,
       array_join(Domains, ',') AS DomainsStr,
       array_join(Urls, ',')    AS UrlsStr
FROM statstoryimpact
""",
    "statdomainopinions": "SELECT * FROM statdomainopinions",
    "statstoryrank": "SELECT * FROM statstoryrank",
    "stattoptopic7d": """
SELECT SnapshotDateId, Topic, array_join(Tags, ',') AS TagsStr, TagCount,
       cntOrigPublishers, cntRepostWRs, cntPositives, cntNegatives, cntAmbiguous, cntGeneral,
       array_join(OrigWebResourceHashes, ',')   AS OrigWebResourceHashesStr,
       array_join(RepostWebResourceHashes, ',') AS RepostWebResourceHashesStr,
       SentimentRatio, rankPubdomains, TimeMarker, IsTop20Topic, IsDominantTopic7d
FROM stattoptopic7d
""",
    "stattopstory7d": "SELECT * FROM stattopstory7d",
    "stattoptopic7dsentiment": "SELECT * FROM stattoptopic7dsentiment",
    "vwsentiment4search7d": "SELECT * FROM vwsentiment4search7d",
}


# daily-snapshot tables live partitioned by SnapshotDateId in the store
# (same layout as stats_incremental.DailyStatsStore, so the per-day
# DELETE+INSERT maintenance path and the backfill path share one home)
_PARTITIONED = {"stattopic", "statstoryimpact"}


def build_stats(
    spark: SparkSession,
    domainopinions_min_docs: int = MIN_DOMAIN_DOCS,
    domainopinions_min_basic8: float = MIN_BASIC8,
    checkpoint_facts: bool = True,
    store_root: str | None = None,
    social_counts: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Materialize the whole chain in dependency order
    (StatsCalcPipeline.java:73-83's hardcoded table order).

    Each table is EAGERLY materialized and registered as a view, exactly
    like the reference writing each stats table to BigQuery before the
    next reads it. Without a materialization barrier the chained views
    re-expand their predecessors' logical plans multiplicatively
    (stattopstory7d would inline the whole indexer DAG dozens of times)
    and Catalyst analysis time explodes; with it every stats query reads
    leaf relations. The fact views are checkpointed once for the same
    reason.

    ``store_root=None`` (gate/bench mode) materializes in the "shared"
    role of session.materialize — fast, but executor-local and
    non-replicated.
    ``store_root=<dir>`` is the PRODUCTION path: every chained table is
    written to durable partitioned parquet and the read-back is what
    downstream tables consume, so an executor loss can only re-run one
    table, never the whole chain (the direct analogue of the reference's
    per-table BigQuery writes; daily tables are partitioned by
    SnapshotDateId so stats_incremental's per-day DELETE+INSERT shares
    the layout).

    ``social_counts``: injectable wrsocialcount relation — the
    SocialStatsPipeline seam. The reference fetches Facebook counts in a
    separate pipeline and the stats job just reads the table; ``None``
    uses the deterministic hash-derived stand-in (WRSOCIALCOUNT_SQL, the
    gate default), or pass any DataFrame with the wrsocialcount schema
    (WebResourceHash, WrPublicationDateId, CountTime,
    DocumentCollectionId, CollectionItemId, FbCount, TwCount) to drop in
    real counts."""
    if checkpoint_facts:
        for fact in ("document", "sentiment", "webresource"):
            materialize(spark.table(fact), "shared").createOrReplaceTempView(fact)
    out: dict[str, DataFrame] = {}
    for name in STATS_ORDER:
        if name == "wrsocialcount" and social_counts is not None:
            df = social_counts
        else:
            df = stats_df(
                spark, name, domainopinions_min_docs, domainopinions_min_basic8
            )
        if store_root is not None:
            path = f"{store_root}/{name}"
            w = df.write.mode("overwrite")
            if name in _PARTITIONED:
                w = w.partitionBy("SnapshotDateId")
            w.parquet(path)
            df = spark.read.parquet(path)
        else:
            df = materialize(df, "shared")
        df.createOrReplaceTempView(name)
        out[name] = df
    # trivial SELECT * presentation shells (never materialized — they are
    # pure views over already-materialized tables, like the reference's)
    for vname, vsql in VW_SHELLS.items():
        vdf = spark.sql(vsql)
        vdf.createOrReplaceTempView(vname)
        out[vname] = vdf
    return out
