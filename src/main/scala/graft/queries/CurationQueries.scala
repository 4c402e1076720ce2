package graft.queries

import org.apache.spark.sql.functions._

import graft.curation.WebCuration

import Shared._

/** The web-curation tier (C4 / Gopher / FineWeb-style passes). */
object CurationQueries {

  val all: Seq[Query] = Seq(
    Query("cur_c4_filter", "WITH " + curLinesSql + ", " + curDecSql + ", " +
        "f AS (SELECT doc_id, ls, list_filter(ls, l -> ends_with(l, '.') " +
        "AND len(string_split(l, ' ')) >= 5 AND NOT contains(l, 'javascript')) AS k FROM dec) " +
        "SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, CAST(len(k) AS INT) AS kept_lines, " +
        "(len(list_filter(ls, l -> contains(l, 'lorem ipsum') OR contains(l, '{'))) = 0 AND len(k) > 0) AS doc_keep, " +
        "CASE WHEN len(list_filter(ls, l -> contains(l, 'lorem ipsum') OR contains(l, '{'))) = 0 AND len(k) > 0 " +
        "THEN md5(array_to_string(k, chr(10))) END AS kept_md5 FROM f ORDER BY doc_id") { (s, dir) =>
      WebCuration.c4Filter(WebCuration.c4Decorate(
        WebCuration.lineCorpus(docs(s, dir)))).orderBy("doc_id")
    },
    Query("cur_gopher_quality", "WITH g AS (SELECT doc_id, text || CASE WHEN doc_id % 23 = 0 " +
        "THEN ' 0000 1111 2222 3333 4444 5555 6666 7777 8888 9999' ELSE '' END AS text FROM documents), " +
        "w AS (SELECT doc_id, string_split(text, ' ') AS ws, length(text) AS lc FROM g), " +
        "x AS (SELECT doc_id, len(ws) AS n, lc - (len(ws) - 1) AS wc, " +
        "len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha, " +
        "len(list_intersect(ws, [" + stopListSql + "])) AS stops FROM w) " +
        "SELECT doc_id, CAST(n AS INT) AS n_words, " +
        "(n >= 25 AND n <= 100000) AS rule_wordcount, " +
        "(wc >= n * 4 AND wc <= n * 10) AS rule_meanwordlen, " +
        "(stops >= 2) AS rule_stopwords, " +
        "(alpha * 5 >= n * 4) AS rule_alpha, " +
        "(n >= 25 AND n <= 100000 AND wc >= n * 4 AND wc <= n * 10 " +
        "AND stops >= 2 AND alpha * 5 >= n * 4) AS keep FROM x ORDER BY doc_id") { (s, dir) =>
      WebCuration.gopherQuality(gopherDocs(s, dir)).orderBy("doc_id")
    },
    Query("cur_repetition", "WITH " + curLinesSql + ", " +
        "r AS (SELECT doc_id, ls, list_distinct(ls) AS dls, ws, len(ws) AS n " +
        "FROM lines JOIN w USING (doc_id)), " +
        "g AS (SELECT doc_id, ls, dls, n, list_transform(range(1, CASE WHEN n >= 2 THEN n ELSE 2 END), " +
        "i -> ws[i] || ' ' || ws[i + 1]) AS gs FROM r) " +
        "SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, " +
        "CAST(len(ls) - len(dls) AS INT) AS dup_line_ct, " +
        "CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0) - " +
        "coalesce(list_sum(list_transform(dls, x -> length(x))), 0) AS INT) AS dup_line_chars, " +
        "CAST(CASE WHEN n >= 2 THEN list_max(list_transform(list_distinct(gs), " +
        "x -> len(list_filter(gs, y -> y = x)))) ELSE 0 END AS INT) AS top2gram_ct " +
        "FROM g ORDER BY doc_id") { (s, dir) =>
      WebCuration.repetitionStats(docs(s, dir)).orderBy("doc_id")
    },
    Query("cur_line_dedup", "WITH " + curLinesSql + ", " +
        "e AS (SELECT doc_id, len(ls) AS n_lines, unnest(ls) AS line, unnest(range(len(ls))) AS idx FROM lines), " +
        "freq AS (SELECT line, count(*) AS df FROM e GROUP BY line), " +
        "kept AS (SELECT e.* FROM e JOIN freq USING (line) WHERE df <= 4) " +
        "SELECT doc_id, CAST(any_value(n_lines) AS INT) AS n_lines, CAST(count(*) AS INT) AS kept_ct, " +
        "md5(string_agg(line, chr(10) ORDER BY idx)) AS kept_md5, " +
        "CAST(any_value(n_lines) - count(*) AS INT) AS removed_ct " +
        "FROM kept GROUP BY doc_id ORDER BY doc_id") { (s, dir) =>
      WebCuration.corpusLineDedup(WebCuration.lineCorpus(docs(s, dir))).orderBy("doc_id")
    },
    Query("cur_pii_scrub", "WITH p AS (SELECT doc_id, text || CASE " +
        "WHEN doc_id % 4 = 0 THEN ' contact cust' || CAST(doc_id AS VARCHAR) || '@mail.example.com for details' " +
        "WHEN doc_id % 4 = 1 THEN ' server 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) || ' up' " +
        "WHEN doc_id % 4 = 2 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' " +
        "ELSE '' END AS text FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '" + WebCuration.emailPattern + "')) AS INT) AS n_emails, " +
        "CAST(len(regexp_extract_all(text, '" + WebCuration.ipv4Pattern + "')) AS INT) AS n_ips, " +
        "CAST(len(regexp_extract_all(text, '" + WebCuration.phonePattern + "')) AS INT) AS n_phones, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(text, " +
        "'" + WebCuration.emailPattern + "', '<EMAIL>', 'g'), " +
        "'" + WebCuration.ipv4Pattern + "', '<IP>', 'g'), " +
        "'" + WebCuration.phonePattern + "', '<PHONE>', 'g')) AS scrubbed_md5 " +
        "FROM p ORDER BY doc_id") { (s, dir) =>
      WebCuration.piiScrub(piiDocs(s, dir)).orderBy("doc_id")
    },
    Query("cur_hash_sample", "SELECT lang, CAST(count(*) AS BIGINT) AS total, " +
        "CAST(sum(CASE WHEN substring(md5(text), 1, 2) < " +
        "(CASE WHEN lang = 'en' THEN '80' WHEN lang = 'es' THEN '60' ELSE '40' END) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS kept FROM documents GROUP BY lang ORDER BY lang") { (s, dir) =>
      WebCuration.hashSampleByLang(docs(s, dir),
        when(col("lang") === "en", "80").when(col("lang") === "es", "60")
          .otherwise("40")).orderBy("lang")
    },
    Query("cur_token_mix", "WITH t AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n, " +
        "(strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) % 4 AS shard, " +
        "sum(len(string_split(text, ' '))) OVER (" +
        "PARTITION BY lang, (strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) % 4 " +
        "ORDER BY md5(text), doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM documents) " +
        "SELECT lang, CAST(shard AS INT) AS shard, doc_id, CAST(n AS INT) AS n_tokens, " +
        "CAST(cum AS BIGINT) AS cum_tokens " +
        "FROM t WHERE cum - n < 500 ORDER BY lang, shard, doc_id") { (s, dir) =>
      WebCuration.tokenBudgetMix(docs(s, dir), 2000L).orderBy("lang", "shard", "doc_id")
    },
    Query("cur_url_dedup", "WITH r AS (" +
        "SELECT 'HTTP://Host' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM:80/p/' || " +
        "CAST(doc_id AS VARCHAR) || '#frag' AS url, doc_id AS ts FROM documents " +
        "UNION ALL " +
        "SELECT 'http://host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com/p/' || " +
        "CAST(doc_id AS VARCHAR) || '/', doc_id + 1000000 FROM documents), " +
        "c AS (SELECT regexp_replace(regexp_replace(regexp_replace(lower(url), " +
        "'#.*$', '', 'g'), '^([a-z][a-z0-9+.-]*://[^/]*):80(/|$)', '\\1\\2', 'g'), " +
        "'/$', '', 'g') AS canon_url, ts FROM r), " +
        "k AS (SELECT canon_url, ts, row_number() OVER (PARTITION BY canon_url ORDER BY ts DESC) AS rn, " +
        "count(*) OVER (PARTITION BY canon_url) AS n_raw FROM c) " +
        "SELECT canon_url, CAST(n_raw AS BIGINT) AS n_raw, CAST(ts AS BIGINT) AS kept_ts " +
        "FROM k WHERE rn = 1 ORDER BY canon_url") { (s, dir) =>
      WebCuration.urlDedupLatest(recrawlUrls(s, dir)).orderBy("canon_url")
    },
    Query("cur_funnel", "WITH " + curLinesSql + ", " + curDecSql + ", " +
        "b AS (SELECT lines.doc_id AS doc_id, lines.ls AS ls0, dec.ls AS dls, w.ws AS ws, w.text AS text " +
        "FROM lines JOIN dec USING (doc_id) JOIN w USING (doc_id)), " +
        "g AS (SELECT doc_id, ls0, len(ws) AS n, length(text) - (len(ws) - 1) AS wc, " +
        "len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS alpha, " +
        "len(list_intersect(ws, [" + stopListSql + "])) AS stops, " +
        "list_filter(dls, l -> ends_with(l, '.') AND len(string_split(l, ' ')) >= 5 " +
        "AND NOT contains(l, 'javascript')) AS k, " +
        "(len(list_filter(dls, l -> contains(l, 'lorem ipsum') OR contains(l, '{'))) = 0) AS nodrop, " +
        "list_transform(range(1, CASE WHEN len(ws) >= 2 THEN len(ws) ELSE 2 END), " +
        "i -> ws[i] || ' ' || ws[i + 1]) AS gs FROM b), " +
        "v AS (SELECT doc_id, n, k, " +
        "(n >= 25 AND n <= 100000 AND wc >= n * 4 AND wc <= n * 10 " +
        "AND stops >= 2 AND alpha * 5 >= n * 4) AS gk, " +
        "(nodrop AND len(k) > 0) AS ck, " +
        "(len(ls0) = len(list_distinct(ls0)) AND " +
        "(CASE WHEN n >= 2 THEN list_max(list_transform(list_distinct(gs), " +
        "x -> len(list_filter(gs, y -> y = x)))) ELSE 0 END) <= 4) AS rk FROM g) " +
        "SELECT doc_id, " +
        "CASE WHEN NOT gk THEN 'gopher' WHEN NOT ck THEN 'c4' " +
        "WHEN NOT rk THEN 'repetition' ELSE 'kept' END AS stage, " +
        "CAST(n AS INT) AS n_words, CAST(len(k) AS INT) AS kept_ct, " +
        "CASE WHEN gk AND ck AND rk THEN md5(regexp_replace(regexp_replace(regexp_replace(" +
        "array_to_string(k, chr(10)), " +
        "'" + WebCuration.emailPattern + "', '<EMAIL>', 'g'), " +
        "'" + WebCuration.ipv4Pattern + "', '<IP>', 'g'), " +
        "'" + WebCuration.phonePattern + "', '<PHONE>', 'g')) END AS kept_md5 " +
        "FROM v ORDER BY doc_id") { (s, dir) =>
      WebCuration.funnel(docs(s, dir)).orderBy("doc_id")
    }
  )
}
