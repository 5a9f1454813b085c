-- The four parameterized tasks of the shipped task file
-- (tasks_sql/test.sql), copied so the benchmark's traffic does not
-- change when that fixture file does. `events.user_id/ts/value` stand
-- in for the reference's entries.user_id/timestamp/amount.

-- name: get_profit_summary
-- queue: analytics
SELECT SUM(value) AS total, CAST(ts AS DATE) AS entry_date
FROM events WHERE user_id = $1 GROUP BY CAST(ts AS DATE);

-- name: get_profit_entries
SELECT * FROM events WHERE user_id = $1;

-- name: get_profit_entries_by_date
SELECT * FROM events WHERE user_id = $1 AND ts > $2 AND ts < $3;

-- name: top_spenders
-- queue: analytics
-- conc: 5
SELECT user_id, SUM(value) AS spend
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY spend DESC LIMIT ?;
