"""Adversarial HTML inputs shared by the grammar and fingerprint tests.

Each entry is ``(name, raw bytes)``: inputs that have broken, or could
break, the tokenizer, the tree builder or the kernels above them.
"""

from __future__ import annotations

_BODY = "<p>after</p><table><tr><td>a<td>b</table>"

_TEXT_CASES = [
    ("comment_in_script",
     "<script>var s = '<!--'; x()</script>" + _BODY + "<!-- real -->"),
    ("comment_in_style",
     "<style>/* <!-- */ p{color:red}</style>" + _BODY + "-->tail"),
    ("unterminated_comment", "<p>before</p><!-- never closed <p>lost</p>"),
    ("comment_before_final_newline", "<p>x</p><!-- open to the end\n"),
    ("cdata_before_final_newline", "<p>x</p><![CDATA[ open\n"),
    ("bare_comment_open_newline", "<p>x</p><!--\n"),
    ("unterminated_attr_quote",
     '<div><a href="https://x.example/>link</a><p>para</p></div>'),
    ("unterminated_quote_closed_later",
     "<div><a title='x>y</a><p>z</p>it's</div>"),
    ("upper_script_close", "<SCRIPT>a<b</SCRIPT><p>seen</p>"),
    ("script_close_word_boundary",
     "<script>x</scripté>y</scripty>z</script><p>seen</p>"),
    ("script_close_unicode_fold",
     "<script>x</ſcript><p>in script</p></scrİpt><p>seen</p>"),
    ("style_close_spaced", "<style>p{}</STYLE ><p>seen</p>"),
    ("backface_visibility",
     "<div style='backface-visibility:hidden'><p>visible text</p></div>"
     "<div style='-webkit-display:none;display:block'>shown</div>"),
    ("stray_angles", "a < b <1 <> </ > <-x </1 <? pi ?> <!doctype x> c"),
    ("self_closing_slash", "<p>x<br/>y<img src=a.png/><div/>z</div></p>"),
    ("entities", "<p title='a&amp;b'>&lt;tag&gt; &copy; &#x1F600; &bogus;</p>"),
    ("deep_nesting", "<div>" * 5000 + "deep text" + "</div>" * 5000),
    ("huge_attribute",
     "<div data-x='" + "a" * (1 << 20) + "'><p>after huge</p></div>"),
    ("astral_and_cjk",
     "<html lang=ja><body><h1>売上 😀</h1><p>€ ſ İ</p></body></html>"),
]

ADVERSARIAL = [(name, text.encode("utf-8")) for name, text in _TEXT_CASES]
ADVERSARIAL += [
    ("non_utf8_latin1",
     "<p>café naïve</p><table><tr><td>é</td></tr></table>".encode("latin-1")),
    ("non_utf8_garbage", b"<p>\xff\xfe\x80\x81 ok</p><div>\xc3\x28</div>"),
    ("utf16_le_bom",
     b"\xff\xfe" + "<p>utf-16 páge 😀</p>".encode("utf-16-le")),
    ("utf16_be_bom",
     b"\xfe\xff" + "<ul><li>one<li>two</ul>".encode("utf-16-be")),
    ("empty", b""),
]
