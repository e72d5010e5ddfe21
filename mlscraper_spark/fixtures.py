"""Deterministic offline stand-ins for the reference's live-network example.

``examples/quotes_to_scrape.py:16-30`` trains on the Einstein author page of
quotes.toscrape.com and extracts from the Rowling page; tests must not touch
the network, so these synthetic pages reproduce the relevant structure
(``.author-title`` / ``.author-born-date`` markup) byte-deterministically.
"""
from __future__ import annotations

QUOTES_AUTHORS = {
    "einstein": {
        "name": "Albert Einstein",
        "born": "March 14, 1879",
        "location": "in Ulm, Germany",
    },
    "rowling": {
        "name": "J.K. Rowling",
        "born": "July 31, 1965",
        "location": "in Yate, South Gloucestershire, England, the United Kingdom",
    },
    "austen": {
        "name": "Jane Austen",
        "born": "December 16, 1775",
        "location": "in Steventon Rectory, Hampshire, The United Kingdom",
    },
}


def quotes_author_page(author_key: str) -> bytes:
    a = QUOTES_AUTHORS[author_key]
    html = f"""<html>
<head><title>Quotes to Scrape</title></head>
<body>
    <div class="container">
        <div class="author-details">
            <h3 class="author-title">{a["name"]}</h3>
            <p>Born: <span class="author-born-date">{a["born"]}</span>
            <span class="author-born-location">{a["location"]}</span></p>
            <div class="author-description">Some description text about {a["name"]}.</div>
        </div>
        <footer class="footer">Quotes by GoodReads; made with love.</footer>
    </div>
</body>
</html>"""
    return html.encode()


def _so_post(kind: str, post_id: int, votes: str, user: str, when: str) -> str:
    """One stackoverflow post: vote cell, body, and the signature with the
    action time and the author (gravatar and name links)."""
    name = user.rsplit("/", 1)[-1]
    verb = "asked" if kind == "question" else "answered"
    return f"""<div id="{kind}-{post_id}" class="{kind} js-{kind}" data-{kind}id="{post_id}">
<div class="post-layout"><div class="votecell post-layout--left"><div class="js-voting-container">
 <button class="js-vote-up-btn" aria-label="Up vote">up</button>
 <div class="js-vote-count fs-title" itemprop="upvoteCount" data-value="{votes}">{votes}</div>
 <button class="js-vote-down-btn" aria-label="Down vote">down</button></div></div>
<div class="postcell post-layout--right">
 <div class="s-prose js-post-body" itemprop="text"><p>Post {post_id} by {name}.</p></div>
 <div class="mt24"><div class="post-menu"><a href="/{kind[0]}/{post_id}">Share</a></div>
 <div class="post-signature"><div class="user-info">
  <div class="user-action-time">{verb}
   <span title="{when}" class="relativetime">{when[:16]}</span></div>
  <div class="user-gravatar32"><a href="{user}"><div class="gravatar-wrapper-32">
   <img src="https://i.sstatic.net/{name}.png" alt="" width="32" height="32"></div></a></div>
  <div class="user-details" itemprop="author"><a href="{user}">{name}</a>
   <div class="-flair"><span class="reputation-score">{post_id % 997}</span></div></div>
 </div></div></div></div>
<div class="post-layout--right"><ul id="comments-{post_id}" class="comments-list"></ul></div>
</div></div>"""


def stackoverflow_answer_page(answers: list[dict]) -> bytes:
    """The structure of a stackoverflow question page with its answers
    (``user``/``upvotes``/``when`` per answer).  The question carries the
    same vote, user and time markup, so a selector must tell answers from
    it."""
    posts = [_so_post("question", 6398000, "57", "/users/11/asker",
                      "2011-06-16 18:02:37Z")]
    posts += [_so_post("answer", 6398450 + i, a["upvotes"], a["user"], a["when"])
              for i, a in enumerate(answers)]
    return f"""<html><head><title>A question - Stack Overflow</title></head>
<body class="question-page"><div id="content"><div id="mainbar">
<div id="question-header"><h1 itemprop="name"><a href="/q/6398000">A question</a></h1></div>
{posts[0]}<div id="answers"><h2>{len(answers)} Answers</h2>{"".join(posts[1:])}</div>
</div></div></body></html>""".encode()


def github_profile_page(p: dict) -> bytes:
    """The structure of a github profile page for a profile dict (``name``,
    ``username``, ``location``, ``url``, ``company``, ``followers``,
    ``following``): the sticky header repeats the username, and pinned
    repositories carry numbers of their own."""
    u, name = p["username"], p["name"]
    repos = "".join(
        f"""<li class="mb-3"><div class="Box pinned-item-list-item p-3">
<a href="/{u}/{r}" class="text-bold"><span class="repo" title="{r}">{r}</span></a>
<p class="pinned-item-desc">{r} by {name}</p>
<a href="/{u}/{r}/stargazers" class="pinned-item-meta"><svg class="octicon-star"></svg> {n}</a>
</div></li>"""
        for r, n in ((f"{u}-dotfiles", len(u) * 7), (f"awesome-{u}", len(name) * 3)))
    return f"""<html lang="en"><head><title>{u} ({name}) · GitHub</title></head>
<body class="page-profile"><main><div class="position-sticky top-0"><div class="d-flex">
 <img class="avatar" src="https://avatars.githubusercontent.com/{u}?s=64" alt="@{u}">
 <span class="css-truncate css-truncate-target text-bold">{u}</span></div></div>
<div class="Layout"><div class="Layout-sidebar"><div class="h-card" itemscope>
<div class="vcard-names-container js-sticky"><h1 class="vcard-names">
 <span class="p-name vcard-fullname d-block" itemprop="name">{name}</span>
 <span class="p-nickname vcard-username d-block" itemprop="additionalName">{u}</span></h1></div>
<div class="d-flex flex-column"><div class="mb-3">
 <a class="Link--secondary" href="https://github.com/{u}?tab=followers"><svg></svg>
  <span class="text-bold color-fg-default">{p["followers"]}</span> followers</a> ·
 <a class="Link--secondary" href="https://github.com/{u}?tab=following">
  <span class="text-bold color-fg-default">{p["following"]}</span> following</a></div>
<ul class="vcard-details">
 <li itemprop="worksFor" aria-label="Organization: {p["company"]}" class="vcard-detail pt-1">
  <svg></svg><span class="p-org"><div>{p["company"]}</div></span></li>
 <li itemprop="homeLocation" aria-label="Home location: {p["location"]}" class="vcard-detail pt-1">
  <svg></svg><span class="p-label">{p["location"]}</span></li>
 <li itemprop="url" class="vcard-detail pt-1"><svg></svg>
  <a rel="nofollow me" class="Link--primary" href="{p["url"]}">{p["url"]}</a></li>
</ul></div></div></div>
<div class="Layout-main"><h2 class="f4 mb-2">Pinned</h2><ol class="d-flex">{repos}</ol></div>
</div></main><footer class="footer"><span>© 2021 GitHub, Inc.</span></footer>
</body></html>""".encode()
