"""DuckDB oracles for the faithful stats layer (plans/stats.py), stacked
on the full indexer prefix from oracles.py — the correctness gate thereby
checks transcripts -> indexer -> wrsocialcount/vwlast7days -> the whole
chained stats-table DAG end to end:

    stattopic -> stattoptopic7d -> stattopstory7d
    statstoryimpact -> statstoryrank -> stattopstory7d
    stattopic + stattoptopic7d -> stattoptopic7dsentiment

Every CTE here mirrors the same-named CTE of the reference query it ports
(StatsCalcPipelineUtils.java; see plans/stats.py for the line map). The
whole chain is ONE WITH-block (`full_chain`); DuckDB prunes unreferenced
inlined CTEs, so each gate query appends only its final SELECT.

The fact views (fct_document, fct_sentiment, fct_webresource) and the
chained stats tables that later tables read (stattopic,
statstoryimpact, statstoryrank, stattoptopic7d) are declared
`AS MATERIALIZED`, relations that plans/stats.build_stats also
materializes on the Spark side. DuckDB 1.0 otherwise inlines every
reference to a CTE, indexer prefix included, so the plans of the gates at
the end of the chain hold dozens of copies of it; DuckDB reserves buffers
per operator and per thread, and at sf0.001 on 4 threads stattopstory7d
and stattoptopic7dsentiment ran out of memory (12.5 GiB). Materializing
changes the plan shape only, not the rows. DuckDB 1.0 does not prune an
unreferenced MATERIALIZED CTE, so every gate computes those seven once:
about a second per gate at sf0.001 on 4 threads, under 1 GB RSS.

Dialect bridges: sort_array(collect_set) <-> list_sort(list(DISTINCT)),
LATERAL VIEW explode <-> comma-unnest, sequence <-> generate_series,
conv(substr(sha2..)) <-> cast('0x'||substr(sha256..) AS bigint), and every
DuckDB sum() is cast to bigint (HUGEINT -> dtype drift otherwise)."""

from __future__ import annotations

from dataflow_opinion_analysis_spark import oracles
from dataflow_opinion_analysis_spark.functions import lexicon
from dataflow_opinion_analysis_spark.plans import stats as stats_plans
from dataflow_opinion_analysis_spark.schemas import ST_COLUMNS

SEP = oracles.SEP

_ST16 = [lexicon.DIM_TO_COLUMN[d] for d in sorted(lexicon.LEXICON)]

_WEEK = ("cast(year({t}) AS varchar) || '_' || "
         "lpad(cast(weekofyear({t}) AS varchar), 2, '0')")


def facts_prefix() -> str:
    """fct_* views over the indexer chain, with every column the stats
    layer consumes (coll ids, MainWebResourceHash, Url/Title/Author,
    St* score dims, annotated texts)."""
    wr_base = """
  SELECT web_resource_hash AS WebResourceHash, url AS Url,
         pub_time AS PublicationTime, pub_date_id AS PublicationDateId,
         {dochash} AS DocumentHash,
         document_collection_id AS DocumentCollectionId,
         collection_item_id AS CollectionItemId,
         title AS Title, conv_id AS Domain, author AS Author,
         parent_web_resource_hash AS ParentWebResourceHash
  FROM {src}
"""
    return (
        oracles.indexer_prefix()
        + f""",
fct_document AS MATERIALIZED (
  SELECT expected_document_hash AS DocumentHash,
         pub_time AS PublicationTime, pub_date_id AS PublicationDateId,
         document_collection_id AS DocumentCollectionId,
         collection_item_id AS CollectionItemId,
         web_resource_hash AS MainWebResourceHash,
         text AS Text
  FROM soft_winners
),
fct_sentiment AS MATERIALIZED (
  SELECT
    sha256(p.document_hash || {SEP} || cast(p.passage_idx AS varchar)
           || {SEP} || p.passage_text)  AS SentimentHash,
    p.document_hash                     AS DocumentHash,
    p.pub_time                          AS DocumentTime,
    p.pub_date_id                       AS DocumentDateId,
    p.passage_text                      AS Text,
    p.passage_text                      AS AnnotatedText,
    '<p>' || p.passage_text || '</p>'   AS AnnotatedHtml,
    p.SentimentTotalScore, p.DominantValence,
    {", ".join("p." + c for c in _ST16)},
    p.StSentiment,
    p.web_resource_hash                 AS MainWebResourceHash
  FROM passages p
  JOIN soft_winners w ON w.expected_document_hash = p.document_hash
),
fct_webresource AS MATERIALIZED (
{wr_base.format(dochash="expected_document_hash", src="soft_winners")}
  UNION ALL
{wr_base.format(dochash="winner_document_hash", src="exact_dupes")}
  UNION ALL
{wr_base.format(dochash="expected_document_hash", src="skipped")}
  UNION ALL
{wr_base.format(dochash="soft_winner_hash", src="soft_dupes")}
)
"""
    )


def _chain_body() -> str:
    """All stats CTEs, stacked; mirrors plans/stats.py table-for-table."""
    st_sums = ",\n    ".join(f"cast(sum({c}) AS bigint) AS {c}" for c in ST_COLUMNS)
    emo8 = ["StJoy", "StAcceptance", "StFear", "StSurprise", "StSadness",
            "StDisgust", "StAnger", "StAnticipation"]
    emo_ratio = ",\n    ".join(f"round({c} / Basic8Score, 2) AS {c}" for c in emo8)
    emo_stats = ",\n    ".join(
        f"round(avg({c}), 2) AS MeanSt{c[2:]},\n    round(coalesce(stddev_pop({c}), 0.0), 2) AS StdevSt{c[2:]}"
        for c in emo8
    )
    return f""",
wrsocialcount AS (
  SELECT wr.WebResourceHash,
         wr.PublicationDateId AS WrPublicationDateId,
         wr.PublicationTime + k * INTERVAL 1 DAY AS CountTime,
         wr.DocumentCollectionId, wr.CollectionItemId,
         cast(((cast('0x' || substr(sha256(wr.WebResourceHash), 1, 6) AS bigint) % 500) + 1) * k AS int) AS FbCount,
         cast((cast('0x' || substr(sha256(wr.WebResourceHash), 7, 6) AS bigint) % 300) * k AS int) AS TwCount
  FROM fct_webresource wr, (SELECT unnest([1, 3]) AS k) ks
),
vwlast7days AS (
  SELECT cast(strftime(LastDate - k * INTERVAL 1 DAY, '%Y%m%d') AS int) AS DateId,
         'T-' || cast(k AS varchar) AS TimeMarker,
         cast(LastDate - k * INTERVAL 1 DAY AS date) AS DateAsDate
  FROM (SELECT max(cast(PublicationTime AS date)) AS LastDate FROM fct_webresource),
       (SELECT unnest(generate_series(1, 7)) AS k) ks
),
p_days AS (
  SELECT cast(strftime(d, '%Y%m%d') AS int) AS SnapshotDateId
  FROM (SELECT unnest(generate_series(cast(min(PublicationTime) AS date),
                                      cast(max(PublicationTime) AS date),
                                      INTERVAL 1 DAY)) AS d
        FROM fct_document)
),
-- ===== stattopic (singles + combi topics) =====
SentimentTags AS (
  SELECT p.SnapshotDateId, s.SentimentHash, dt.tag AS Tag,
         dt.good_as_topic AS GoodAsTopic, s.DocumentHash
  FROM p_days p
  JOIN fct_sentiment s ON s.DocumentDateId = p.SnapshotDateId
  JOIN doc_tags dt ON dt.document_hash = s.DocumentHash
  WHERE s.SentimentTotalScore > 0
),
SentimentTagCombos AS (
  SELECT p.SnapshotDateId, s.SentimentHash, t1.tag AS Tag1, t2.tag AS Tag2
  FROM p_days p
  JOIN fct_sentiment s ON s.DocumentDateId = p.SnapshotDateId
  JOIN doc_tags t1 ON t1.document_hash = s.DocumentHash
  JOIN doc_tags t2 ON t2.document_hash = s.DocumentHash
  WHERE t1.tag < t2.tag AND s.SentimentTotalScore > 0
),
CalcStatSentiments AS (
  SELECT st.SnapshotDateId, st.Tag, st.GoodAsTopic, d.DocumentHash, s.SentimentHash,
         wrOrig.WebResourceHash AS OrigWebResourceHash, wrOrig.Domain AS OrigDomain,
         wrRepost.WebResourceHash AS RepostWebResourceHash,
         s.DominantValence AS Valence
  FROM SentimentTags st
  JOIN fct_sentiment s ON s.SentimentHash = st.SentimentHash AND s.DocumentDateId = st.SnapshotDateId
  JOIN fct_document d ON d.DocumentHash = s.DocumentHash AND d.PublicationDateId = st.SnapshotDateId
  JOIN fct_webresource wrOrig ON wrOrig.WebResourceHash = d.MainWebResourceHash
  JOIN fct_webresource wrRepost ON wrRepost.DocumentHash = d.DocumentHash
),
CalcStatTopics AS (
  SELECT SnapshotDateId, Tag AS Topic, [Tag] AS Tags, GoodAsTopic, 1 AS TagCount,
    count(DISTINCT OrigDomain)            AS cntOrigPublishers,
    count(DISTINCT RepostWebResourceHash) AS cntRepostWRs,
    count(DISTINCT CASE WHEN Valence = 1 THEN SentimentHash END) AS cntPositives,
    count(DISTINCT CASE WHEN Valence = 2 THEN SentimentHash END) AS cntNegatives,
    count(DISTINCT CASE WHEN Valence = 3 THEN SentimentHash END) AS cntAmbiguous,
    count(DISTINCT CASE WHEN Valence = 5 THEN SentimentHash END) AS cntGeneral,
    list_sort(list(DISTINCT SentimentHash))       AS SentimentHashes,
    list_sort(list(DISTINCT OrigWebResourceHash)) AS OrigWebResourceHashes,
    list_sort(list(DISTINCT RepostWebResourceHash)) AS RepostWebResourceHashes
  FROM CalcStatSentiments
  GROUP BY SnapshotDateId, Tag, GoodAsTopic
),
CalcStatCombiTopics AS (
  SELECT stc.SnapshotDateId, stc.Tag1 || ' & ' || stc.Tag2 AS Topic,
         [stc.Tag1, stc.Tag2] AS Tags, true AS GoodAsTopic, 2 AS TagCount,
    count(DISTINCT wrOrig.Domain)            AS cntOrigPublishers,
    count(DISTINCT wrRepost.WebResourceHash) AS cntRepostWRs,
    count(DISTINCT CASE WHEN s.DominantValence = 1 THEN s.SentimentHash END) AS cntPositives,
    count(DISTINCT CASE WHEN s.DominantValence = 2 THEN s.SentimentHash END) AS cntNegatives,
    count(DISTINCT CASE WHEN s.DominantValence = 3 THEN s.SentimentHash END) AS cntAmbiguous,
    count(DISTINCT CASE WHEN s.DominantValence = 5 THEN s.SentimentHash END) AS cntGeneral,
    list_sort(list(DISTINCT s.SentimentHash))        AS SentimentHashes,
    list_sort(list(DISTINCT wrOrig.WebResourceHash)) AS OrigWebResourceHashes,
    list_sort(list(DISTINCT wrRepost.WebResourceHash)) AS RepostWebResourceHashes
  FROM SentimentTagCombos stc
  JOIN fct_sentiment s ON s.SentimentHash = stc.SentimentHash AND s.DocumentDateId = stc.SnapshotDateId
  JOIN fct_document d ON d.DocumentHash = s.DocumentHash AND d.PublicationDateId = stc.SnapshotDateId
  JOIN fct_webresource wrOrig ON wrOrig.WebResourceHash = d.MainWebResourceHash
  JOIN fct_webresource wrRepost ON wrRepost.DocumentHash = d.DocumentHash
  GROUP BY stc.SnapshotDateId, stc.Tag1, stc.Tag2
),
stattopic AS MATERIALIZED (
  SELECT SnapshotDateId, Topic, Tags, TagCount, cntOrigPublishers, cntRepostWRs,
         cntPositives, cntNegatives, cntAmbiguous, cntGeneral,
         SentimentHashes, OrigWebResourceHashes, RepostWebResourceHashes
  FROM (SELECT * FROM CalcStatTopics      WHERE GoodAsTopic AND cntRepostWRs > 1
        UNION ALL
        SELECT * FROM CalcStatCombiTopics WHERE GoodAsTopic AND cntRepostWRs > 1)
),
-- ===== statstoryimpact (8-day window, cntFb from wrsocialcount) =====
imp_s1x AS (
  SELECT cast(strftime(sd, '%Y%m%d') AS int) AS SnapshotDateId,
         d.DocumentHash, d.DocumentCollectionId, d.CollectionItemId
  FROM fct_document d,
       unnest(generate_series(cast(d.PublicationTime AS date),
                              cast(d.PublicationTime AS date) + INTERVAL {stats_plans.IMPACT_WINDOW_DAYS} DAY,
                              INTERVAL 1 DAY)) AS t(sd)
),
imp_s1 AS (SELECT s1x.* FROM imp_s1x s1x JOIN p_days p ON p.SnapshotDateId = s1x.SnapshotDateId),
imp_s2 AS (
  SELECT s1.SnapshotDateId, s1.DocumentHash, s1.DocumentCollectionId, s1.CollectionItemId,
    count(DISTINCT w.WebResourceHash) AS cntWRs,
    count(DISTINCT w.Domain)          AS cntDomains,
    list_sort(list(w.Domain))         AS Domains,
    list_sort(list(w.Url))            AS Urls
  FROM imp_s1 s1 JOIN fct_webresource w
    ON w.DocumentHash = s1.DocumentHash AND w.PublicationDateId <= s1.SnapshotDateId
  GROUP BY 1, 2, 3, 4
),
imp_s3 AS (
  SELECT s1.SnapshotDateId, s1.DocumentHash, s1.DocumentCollectionId, s1.CollectionItemId,
         w.WebResourceHash, max(sc.FbCount) AS cntFb
  FROM imp_s1 s1
  JOIN fct_webresource w ON w.DocumentHash = s1.DocumentHash
  LEFT JOIN wrsocialcount sc
    ON sc.WebResourceHash = w.WebResourceHash
   AND cast(strftime(cast(sc.CountTime AS date), '%Y%m%d') AS int) <= s1.SnapshotDateId
  GROUP BY 1, 2, 3, 4, 5
),
imp_s4 AS (
  SELECT SnapshotDateId, DocumentHash, DocumentCollectionId, CollectionItemId,
         cast(sum(cntFb) AS bigint) AS cntFb
  FROM imp_s3 GROUP BY 1, 2, 3, 4
),
statstoryimpact AS MATERIALIZED (
  SELECT s2.SnapshotDateId, s2.DocumentHash, s2.DocumentCollectionId, s2.CollectionItemId,
         s2.cntWRs, s2.cntDomains, s4.cntFb, s2.Domains, s2.Urls
  FROM imp_s2 s2 JOIN imp_s4 s4
    ON s4.DocumentHash = s2.DocumentHash AND s4.SnapshotDateId = s2.SnapshotDateId
),
-- ===== statdomainopinions (per Topic x Domain, Basic8) =====
dom_s1 AS (
  SELECT wr.Domain, count(DISTINCT DocumentHash) AS cntDocs
  FROM fct_webresource wr
  GROUP BY 1 HAVING count(DISTINCT DocumentHash) > {{min_docs}}
),
dom_s1a AS (
  SELECT Domain, cntDocs, rank() OVER (ORDER BY cntDocs DESC) AS DomainRank FROM dom_s1
),
dom_s2 AS (
  SELECT wr.PublicationTime, wr.Domain, wr.Author,
    CASE WHEN s1a.DomainRank <= 50  THEN 1 ELSE 0 END AS IsTop50Domain,
    CASE WHEN s1a.DomainRank <= 500 THEN 1 ELSE 0 END AS IsTop500Domain,
    s.DocumentHash, s.SentimentTotalScore, s.DominantValence AS Valence,
    {", ".join("s." + c for c in ST_COLUMNS)}
  FROM fct_sentiment s
  JOIN fct_webresource wr ON wr.DocumentHash = s.DocumentHash
  JOIN dom_s1a s1a ON s1a.Domain = wr.Domain
),
dom_s3 AS (
  SELECT
    {_WEEK.format(t="s2.PublicationTime")} AS PubWeek,
    Domain, IsTop50Domain, IsTop500Domain, dt.tag AS Topic,
    cast(sum(CASE WHEN Valence = 1 THEN 1 ELSE 0 END) AS bigint) AS cntPositives,
    cast(sum(CASE WHEN Valence = 2 THEN 1 ELSE 0 END) AS bigint) AS cntNegatives,
    cast(sum(CASE WHEN Valence = 3 THEN 1 ELSE 0 END) AS bigint) AS cntAmbiguous,
    cast(sum(CASE WHEN Valence = 5 THEN 1 ELSE 0 END) AS bigint) AS cntGeneral,
    count(1) AS cntTotalMentions,
    {st_sums},
    greatest(cast(sum(StJoy + StAcceptance + StFear + StSurprise + StSadness + StDisgust + StAnger + StAnticipation) AS double), 0.01) AS Basic8Score,
    greatest(cast(sum(StJoy + StAcceptance + StSurprise + StAnticipation) AS double), 0.01) AS Positive4Score,
    greatest(cast(sum(StFear + StSadness + StDisgust + StAnger) AS double), 0.01)           AS Negative4Score
  FROM dom_s2 s2
  JOIN doc_tags dt ON dt.document_hash = s2.DocumentHash AND dt.good_as_topic
  WHERE dt.tag NOT IN (SELECT word FROM blocklist)
  GROUP BY 1, 2, 3, 4, 5
),
dom_s4 AS (
  SELECT Domain, Topic, cast(sum(cntTotalMentions) AS bigint) AS cntTotalMentions
  FROM dom_s3 GROUP BY 1, 2
),
dom_s5 AS (
  SELECT Domain, Topic, cntTotalMentions,
    rank() OVER (PARTITION BY Domain ORDER BY cntTotalMentions DESC, length(Topic) DESC, Topic) AS DomainTopicRank
  FROM dom_s4
),
dom_s6 AS (
  SELECT
    s3.PubWeek, s3.Domain, s3.IsTop50Domain, s3.IsTop500Domain, s3.Topic,
    s5.DomainTopicRank,
    CASE WHEN s5.DomainTopicRank <= 20  THEN 1 ELSE 0 END AS IsTop20DomainTopic,
    CASE WHEN s5.DomainTopicRank <= 100 THEN 1 ELSE 0 END AS IsTop100DomainTopic,
    s3.cntPositives, s3.cntNegatives, s3.cntAmbiguous, s3.cntGeneral,
    s3.cntTotalMentions, s3.Basic8Score,
    cast(s3.cntPositives - s3.cntNegatives AS double) / greatest(cast(s3.cntTotalMentions AS double), 1.0) AS SentimentRatio,
    round((s3.Positive4Score - s3.Negative4Score) / s3.Basic8Score, 2) AS Basic8Ratio,
    {emo_ratio}
  FROM dom_s3 s3 JOIN dom_s5 s5 ON s5.Domain = s3.Domain AND s5.Topic = s3.Topic
),
statdomainopinions AS (
  SELECT * FROM (
    SELECT
      Topic, Domain,
      max(IsTop50Domain)  AS IsTop50Domain,
      max(IsTop500Domain) AS IsTop500Domain,
      min(DomainTopicRank) AS DomainTopicRank,
      max(IsTop20DomainTopic)  AS IsTop20DomainTopic,
      max(IsTop100DomainTopic) AS IsTop100DomainTopic,
      cast(sum(cntTotalMentions) AS bigint) AS cntTotalMentions,
      round(sum(Basic8Score), 2) AS Basic8Score,
      round(avg(Basic8Ratio), 2) AS MeanBasic8Ratio,
      round(coalesce(stddev_pop(Basic8Ratio), 0.0), 2) AS StdevBasic8Ratio,
      {emo_stats},
      round(avg(SentimentRatio), 2) AS MeanSentimentRatio,
      round(coalesce(stddev_pop(SentimentRatio), 0.0), 2) AS StdevSentimentRatio
    FROM dom_s6 GROUP BY 1, 2
  ) WHERE Basic8Score >= {{min_basic8}}
),
-- ===== statstoryrank (latest impact snapshot, cntFb ranks) =====
rk_s1 AS (
  SELECT d.PublicationDateId, d.DocumentHash,
         strftime(d.PublicationTime, '%Y_%m') AS PubMonth,
         {_WEEK.format(t="d.PublicationTime")} AS PubWeek,
         substr(wrOrig.Title, 1, 1000) AS Title,
         wrOrig.Url, wrOrig.Domain, wrOrig.Author
  FROM fct_document d
  JOIN fct_webresource wrOrig ON wrOrig.WebResourceHash = d.MainWebResourceHash
  WHERE cast(d.PublicationTime AS date) >=
        (SELECT v.DateAsDate FROM vwlast7days v WHERE v.TimeMarker = 'T-1') - INTERVAL {stats_plans.STORYRANK_LOOKBACK} DAY
),
rk_s2 AS (
  SELECT s1.DocumentHash, max(impact.SnapshotDateId) AS LatestStatsDateId
  FROM rk_s1 s1 JOIN statstoryimpact impact ON impact.DocumentHash = s1.DocumentHash
  GROUP BY s1.DocumentHash
  ORDER BY max(impact.cntFb + impact.cntWRs) DESC NULLS LAST, s1.DocumentHash
  LIMIT {stats_plans.TOP_STORY_LIMIT}
),
statstoryrank AS MATERIALIZED (
  SELECT s1.DocumentHash, s1.PublicationDateId, s1.PubMonth, s1.PubWeek,
         s1.Title, s1.Url, s1.Domain, s1.Author,
    rank() OVER (PARTITION BY s1.PubWeek  ORDER BY impact.cntFb DESC NULLS LAST, impact.cntWRs DESC) AS rankWeekly,
    rank() OVER (PARTITION BY s1.PubMonth ORDER BY impact.cntFb DESC NULLS LAST, impact.cntWRs DESC) AS rankMonthly,
    impact.cntWRs, impact.cntDomains, impact.cntFb,
    array_to_string(impact.Domains, ',') AS Domains,
    array_to_string(impact.Urls, ',')    AS Urls
  FROM rk_s1 s1
  JOIN rk_s2 s2 ON s2.DocumentHash = s1.DocumentHash
  JOIN statstoryimpact impact
    ON impact.DocumentHash = s2.DocumentHash AND impact.SnapshotDateId = s2.LatestStatsDateId
),
-- ===== stattoptopic7d (dominance over stattopic x vwlast7days) =====
tt1 AS (
  SELECT st.SnapshotDateId, st.Topic, st.Tags, st.TagCount,
         st.cntOrigPublishers, st.cntRepostWRs,
         st.cntPositives, st.cntNegatives, st.cntAmbiguous, st.cntGeneral,
         st.OrigWebResourceHashes, st.RepostWebResourceHashes,
         cast(st.cntPositives - st.cntNegatives AS double)
           / greatest(cast(st.cntPositives + st.cntNegatives + st.cntAmbiguous + st.cntGeneral AS double), 1.0) AS SentimentRatio,
         rank() OVER (PARTITION BY st.SnapshotDateId
                      ORDER BY st.cntOrigPublishers DESC, st.cntRepostWRs DESC, st.TagCount DESC, st.Topic) AS rankPubdomains,
         l.TimeMarker
  FROM stattopic st
  JOIN vwlast7days l ON st.SnapshotDateId = l.DateId
  WHERE st.Topic NOT IN (SELECT word FROM blocklist)
),
tt2 AS (
  SELECT tt1.*, CASE WHEN rankPubdomains <= 20 THEN 1 ELSE 0 END AS IsTop20Topic
  FROM tt1 WHERE rankPubdomains < {stats_plans.RANK_CUTOFF}
),
tt7d AS (
  SELECT Topic,
    min(CASE WHEN IsTop20Topic = 1 THEN TimeMarker END) AS LatestTimeMarker,
    cast(sum(IsTop20Topic) AS bigint) AS NumInTop20,
    round(avg(1 / ln(rankPubdomains + 1)), 9) AS AvgTopicDominance,
    round(cast(sum(IsTop20Topic) AS bigint) * round(avg(1 / ln(rankPubdomains + 1)), 9), 9) AS CycleTopicDominance
  FROM tt2 GROUP BY Topic
),
tt7dtop20 AS (
  SELECT * FROM tt7d ORDER BY CycleTopicDominance DESC, Topic LIMIT 20
),
stattoptopic7d AS MATERIALIZED (
  SELECT tt2.SnapshotDateId, tt2.Topic, tt2.Tags, tt2.TagCount,
         tt2.cntOrigPublishers, tt2.cntRepostWRs,
         tt2.cntPositives, tt2.cntNegatives, tt2.cntAmbiguous, tt2.cntGeneral,
         tt2.OrigWebResourceHashes, tt2.RepostWebResourceHashes,
         tt2.SentimentRatio, tt2.rankPubdomains, tt2.TimeMarker, tt2.IsTop20Topic,
         CASE WHEN t20.Topic IS NOT NULL THEN 1 ELSE 0 END AS IsDominantTopic7d
  FROM tt2
  LEFT JOIN tt7dtop20 t20 ON tt2.Topic = t20.Topic
  WHERE tt2.rankPubdomains < 100 OR tt2.IsTop20Topic = 1
     OR (CASE WHEN t20.Topic IS NOT NULL THEN 1 ELSE 0 END) = 1
),
-- ===== stattopstory7d (rankSocial by cntFb) =====
ts1 AS (
  SELECT t.SnapshotDateId, o.origs AS WebResourceHash,
         list_sort(list(DISTINCT g.tags)) AS Tags
  FROM stattoptopic7d t,
       unnest(t.OrigWebResourceHashes) AS o(origs),
       unnest(t.Tags) AS g(tags)
  WHERE t.IsTop20Topic = 1
  GROUP BY 1, 2
),
ts2 AS (
  SELECT s1.SnapshotDateId, s1.WebResourceHash, s1.Tags,
         si.Title, si.Url, si.cntDomains, si.cntFb,
    rank() OVER (PARTITION BY s1.SnapshotDateId
                 ORDER BY si.cntFb DESC NULLS LAST, si.cntDomains DESC) AS rankSocial
  FROM ts1 s1
  JOIN fct_webresource wr ON wr.WebResourceHash = s1.WebResourceHash
  JOIN statstoryrank si ON si.DocumentHash = wr.DocumentHash
),
stattopstory7d AS (
  SELECT SnapshotDateId, WebResourceHash, substr(Title, 1, 1000) AS Title, Url,
         cntDomains, cntFb, rankSocial,
         CASE WHEN rankSocial <= 10 THEN 1 ELSE 0 END AS IsTop10Story,
         array_to_string(list_sort(list(DISTINCT g.tags)), ',') AS Tags
  FROM ts2, unnest(ts2.Tags) AS g(tags)
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
),
-- ===== stattoptopic7dsentiment =====
sent_exp AS (
  SELECT t.SnapshotDateId, t.TimeMarker, t.Topic, t.IsTop20Topic, t.IsDominantTopic7d, x.sh
  FROM stattoptopic7d t
  JOIN stattopic st ON st.SnapshotDateId = t.SnapshotDateId AND st.Topic = t.Topic,
       unnest(st.SentimentHashes) AS x(sh)
),
stattoptopic7dsentiment AS (
  SELECT e.SnapshotDateId, e.TimeMarker, e.Topic, s.SentimentTotalScore,
    CASE s.DominantValence WHEN 1 THEN 'Positive' WHEN 2 THEN 'Negative'
         WHEN 3 THEN 'Ambiguous' WHEN 5 THEN 'General' ELSE 'Unknown' END AS DominantValence,
    s.Text, s.AnnotatedText, s.AnnotatedHtml,
    {", ".join("s." + c for c in ST_COLUMNS)},
    substr(wr.Title, 1, 1000) AS Title, wr.Url, wr.Domain, wr.Author,
    e.IsTop20Topic, e.IsDominantTopic7d
  FROM sent_exp e
  JOIN fct_sentiment s ON s.SentimentHash = e.sh
  JOIN fct_webresource wr ON wr.WebResourceHash = s.MainWebResourceHash
),
-- ===== vwsentiment4search7d (bigquery/build_views.sh:57-73) =====
-- Topic = top-3 tags stably ordered by (GoodAsTopic asc, tag rank),
-- matching the Spark side's filter-concat over the rk-ordered Tags array
s4s_topic AS (
  SELECT document_hash,
         array_to_string(list(tag ORDER BY good_as_topic, rk)[1:3], ' & ') AS Topic
  FROM (SELECT document_hash, token AS tag,
               token NOT IN (SELECT word FROM blocklist) AS good_as_topic, rk
        FROM tags WHERE rk <= {lexicon.TAG_TOP_K})
  GROUP BY document_hash
),
vwsentiment4search7d AS (
  SELECT s.DocumentDateId AS SnapshotDateId, l7.TimeMarker,
    coalesce(tp.Topic, '') AS Topic, s.SentimentTotalScore,
    CASE s.DominantValence WHEN 1 THEN 'Positive' WHEN 2 THEN 'Negative'
         WHEN 3 THEN 'Ambiguous' WHEN 5 THEN 'General' ELSE 'Unknown' END AS DominantValence,
    s.Text, s.AnnotatedText, s.AnnotatedHtml,
    {", ".join("s." + c for c in ST_COLUMNS)},
    substr(wr.Title, 1, 1000) AS Title, wr.Url, wr.Domain, wr.Author
  FROM fct_sentiment s
  JOIN vwlast7days l7 ON s.DocumentDateId = l7.DateId
  JOIN fct_webresource wr ON wr.WebResourceHash = s.MainWebResourceHash
  LEFT JOIN s4s_topic tp ON tp.document_hash = s.DocumentHash
)
"""


def full_chain(min_docs: int, min_basic8: float) -> str:
    return facts_prefix() + _chain_body().replace("{min_docs}", str(min_docs)).replace(
        "{min_basic8}", str(min_basic8)
    )


# final gate SELECTs (column names match the Spark gate projections;
# DuckDB prunes the unreferenced inlined chain CTEs per query)
GATE_SELECTS: dict[str, str] = {
    "wrsocialcount_derived": """
SELECT WebResourceHash, WrPublicationDateId, CountTime,
       DocumentCollectionId, CollectionItemId, FbCount, TwCount
FROM wrsocialcount
""",
    "stattopic": """
SELECT SnapshotDateId, Topic, array_to_string(Tags, ',') AS TagsStr, TagCount,
       cntOrigPublishers, cntRepostWRs, cntPositives, cntNegatives, cntAmbiguous, cntGeneral,
       array_to_string(SentimentHashes, ',')       AS SentimentHashesStr,
       array_to_string(OrigWebResourceHashes, ',') AS OrigWebResourceHashesStr,
       array_to_string(RepostWebResourceHashes, ',') AS RepostWebResourceHashesStr
FROM stattopic
""",
    "statstoryimpact": """
SELECT SnapshotDateId, DocumentHash, DocumentCollectionId, CollectionItemId,
       cntWRs, cntDomains, cntFb,
       array_to_string(Domains, ',') AS DomainsStr,
       array_to_string(Urls, ',')    AS UrlsStr
FROM statstoryimpact
""",
    "statdomainopinions": "SELECT * FROM statdomainopinions",
    "statstoryrank": "SELECT * FROM statstoryrank",
    "stattoptopic7d": """
SELECT SnapshotDateId, Topic, array_to_string(Tags, ',') AS TagsStr, TagCount,
       cntOrigPublishers, cntRepostWRs, cntPositives, cntNegatives, cntAmbiguous, cntGeneral,
       array_to_string(OrigWebResourceHashes, ',')   AS OrigWebResourceHashesStr,
       array_to_string(RepostWebResourceHashes, ',') AS RepostWebResourceHashesStr,
       SentimentRatio, rankPubdomains, TimeMarker, IsTop20Topic, IsDominantTopic7d
FROM stattoptopic7d
""",
    "stattopstory7d": "SELECT * FROM stattopstory7d",
    "stattoptopic7dsentiment": "SELECT * FROM stattoptopic7dsentiment",
    "vwsentiment4search7d": "SELECT * FROM vwsentiment4search7d",
}


def oracle_sql(
    name: str,
    min_docs: int = stats_plans.MIN_DOMAIN_DOCS,
    min_basic8: float = stats_plans.MIN_BASIC8,
) -> str:
    return full_chain(min_docs, min_basic8) + GATE_SELECTS[name]
